"""Streaming curation: each micro-batch of crawled documents IS a drop.

The Structured-Streaming form of the recurring curation pipeline the batch
operators implement (operators/dedup.py). Per micro-batch, one map-only
pass builds the batch's per-document table — (doc_id, lang, content_hash,
mh_00…mh_11[, embedding]) — and checkpoints it. The chained exact →
near-dup rules then add their decisions to that table as columns, judged
against the job's OWN corpus state: the content-hash and MinHash-signature
rows of everything it has ACCEPTED so far. The classified table is
checkpointed, and every commit is a projection of it: the
per-language report (a ``groupBy``), and the accepted docs' hash,
signature and (with the ANN stage on) serving-segment rows. The drop rules
are the batch operators' own helpers (``_exact_flags``,
``_banded_drop_sets``, ``_with_stage``, ``_band_rows``), and the
signatures use the same MinHash layout as the batch tiers
(``_with_minhash_array``), so the stream composes one-definition rules and
cannot drift from the oracle-gated batch tiers.

Exactly-once: ``foreachBatch`` is at-least-once under retry, so every
write is a DETERMINISTIC OVERWRITE keyed by ``batch_id`` — state partition
``accepted_hashes/b{batch_id:010d}`` (and the other kinds) and report
partition ``report/b{batch_id:010d}`` are rewritten byte-identically on a
replay. Each commit is one file, sorted by its key (doc_id; lang for the
report), because the classified table's row order follows shuffles.
Determinism also requires that a replayed batch classifies against exactly
the state its first run saw, so the corpus view inside ``process_batch``
reads only partitions with id < batch_id, never the batch's own
previously-committed partition. Retries, out-of-order replays and full
re-runs over the same checkpoint are all no-ops (pinned in
tests/test_streaming_curation.py).

At scale this is the shape of a continuous ingestion pipeline: corpus
state is ~(50 + 100) B/doc of hash + signature rows (never document text),
each micro-batch pays batch-sized hashing plus banded equi-joins against
that state, and the state grows only by accepted content.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_storage_cloud_formats_spark.functions.text_functions import (
    hash_family,
)
from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
    CURATION_STAGES,
    MINHASH_K,
    _band_rows,
    _banded_drop_sets,
    _exact_flags,
    _with_minhash_array,
    _with_stage,
)

_HASH_SCHEMA = "doc_id long, lang string, content_hash binary"

# Streaming ANN serving segment rows: a micro-batch's kept docs' embeddings
# assigned against the PUBLISHED corpus-split quantizer (the batch tiers'
# assign-without-retrain pass), so a streaming drop is servable without a
# batch job. Same element type as the embeddings table.
_ANN_SCHEMA = "doc_id long, embedding array<float>, label long"

# Streaming PQ-CODE segment rows: the same kept docs, PQ-encoded against
# the PUBLISHED corpus-split codebooks (operators/pq._assign_pq —
# encode-without-retrain) alongside their coarse cell, so the compressed
# serving path sees a streaming drop too.
_PQ_SCHEMA = "doc_id long, codes array<long>, label long"

_MH_COLS = [f"mh_{k:02d}" for k in range(MINHASH_K)]


def _sig_schema(family: str) -> str:
    """The signature-row schema is FAMILY-DEPENDENT (md5 → hex-string
    components, xxhash64 → 32-bit-half longs — the same reason
    _ensure_minhash_sigs keys its artifact params on the family)."""
    t = "string" if family == "md5" else "long"
    return "doc_id long, " + ", ".join(f"mh_{k:02d} {t}" for k in range(MINHASH_K))


# report contract: batch id + lang + total + one count per chain stage
# (the stage names ARE operators.dedup.CURATION_STAGES — one definition)
REPORT_COLUMNS = ("batch_id", "lang", "n_batch") + tuple(
    f"n_{s}" for s in CURATION_STAGES
)
_REPORT_SCHEMA = "batch_id long, lang string, n_batch long, " + ", ".join(
    f"n_{s} long" for s in CURATION_STAGES
)

# State partition names: exactly a prefix letter + 10 digits. ``b`` = one
# micro-batch's deterministic-overwrite commit (id = batch_id); ``f`` = a
# FOLD generation covering every batch id ≤ its id (fold_state below).
# Entries of any other shape under the state dir (a manual backup, a
# foreign leftover) are not state.
_PART_RE = re.compile(r"^([bf])(\d{10})$")


class StreamingCuration:
    """The ``foreachBatch`` callback object. ``state_dir`` holds the
    accepted-state partitions and the report log; pass
    ``process_batch`` to ``foreachBatch``.

    The state namespace is FAMILY-KEYED (``state_dir/<family>/...``):
    the near-dup decisions and the signature row types are
    hash-family-dependent, so a job resumed under a different
    ``SPARK_GRAFT_HASH_FAMILY`` must see a fresh namespace, never a
    blend of incompatible decisions (the same never-share rule as the
    batch tiers' family-keyed artifact params). Long-running jobs fold
    their many small per-batch partitions into one generation on the
    re-index/merge schedule via :meth:`fold_state`, exactly the batch
    tiers' merged-generation posture; each per-batch commit is coalesced
    to one file per kind."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        fold_every: int | None = None,
        ann_sf_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.family = hash_family()
        self.state_dir = os.path.join(state_dir, self.family)
        # ``ann_sf_dir`` enables the per-drop ANN SEGMENT stage: batches
        # must then carry an ``embedding`` column; each micro-batch's KEPT
        # docs are assigned against the published corpus-split quantizer
        # of this corpus (kmeans_ivf.assign_to_published_quantizer — no
        # retrain) and committed as an ``ann_segments/b{batch_id}``
        # serving segment, folded on the same ``fold_every`` schedule as
        # the hash/signature state. Replay-deterministic like every other
        # commit: the quantizer is a published content-keyed artifact and
        # the kept set is a pure function of strictly-earlier state.
        self.ann_sf_dir = ann_sf_dir
        # ``fold_every=N`` runs :meth:`fold_state` at the top of every
        # N-th batch — the re-index/merge schedule wired into the job
        # itself, so a continuous deployment never accumulates unbounded
        # per-batch partitions without anyone remembering to call the
        # maintenance job. Retry-safe: a fold's CONTENT is a pure
        # function of its id (state ≤ id), so the fold a replayed batch
        # triggers — even one covering a later id than the first
        # attempt's, because the batch's own partitions are now
        # committed — serves every ``before`` view identically (pinned
        # in tests).
        self.fold_every = fold_every

    # ---- state access ----------------------------------------------------
    def _list_parts(self, kind: str) -> list[tuple[str, int, str]]:
        """All COMMITTED state partitions of ``kind`` as sorted
        (prefix, id, path) triples — ``b`` per-batch commits and ``f``
        fold generations — from one ``<kind>/*/_SUCCESS`` listing.
        Committed ⇔ ``_SUCCESS`` present: Spark writes the marker LAST and
        a replay's overwrite deletes it FIRST, so a partition caught
        mid-rewrite counts as uncommitted instead of serving a
        half-written directory. Entries not matching the exact
        letter+10-digits shape are ignored. A failed LISTING raises —
        absence-as-empty is only safe when the listing itself succeeded."""
        from kafka_connect_storage_cloud_formats_spark.fsio import _fs_for

        root = os.path.join(self.state_dir, kind)
        fs = _fs_for(root, self.spark)
        names = fs.glob_parent_names(os.path.join(root, "*", "_SUCCESS"))
        if names is None:
            raise RuntimeError(
                f"curation state listing failed under {root}"
            ) from fs.last_error
        out = [
            (m.group(1), int(m.group(2)), os.path.join(root, name))
            for name in names
            if (m := _PART_RE.match(name)) is not None
        ]
        return sorted(out, key=lambda t: (t[1], t[0]))

    def _state_parts(self, kind: str, before: int | None = None) -> list[str]:
        """EFFECTIVE state partition paths of ``kind``, optionally
        restricted to batch ids < ``before`` (the corpus view a replaying
        batch must see). Fold-aware selection: the newest eligible fold
        (id < before) covers every batch id ≤ its own, so the view is
        that fold plus the per-batch partitions ABOVE it — per-batch (or
        older-fold) partitions at ids a newer fold covers are ignored
        even when still present, which is what makes the fold's
        write-then-cleanup crash-safe (fold committed + covered ``b``
        partitions not yet deleted must not double-count). Replay
        coverage is guaranteed by :meth:`fold_state`'s invariant — folds
        never include the newest committed batch, the only one the
        checkpoint can replay — so for every replayable ``before`` the
        eligible fold plus surviving ``b`` partitions reconstruct the
        exact pre-batch state."""
        parts = self._list_parts(kind)
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

    def _accepted(
        self, kind: str, schema: str, before: int | None = None
    ) -> DataFrame:
        """Union of committed batch partitions of ``kind``; an empty typed
        frame when none are committed (or none precede ``before``)."""
        parts = self._state_parts(kind, before)
        if not parts:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*parts)

    def accepted_hashes(self, before: int | None = None) -> DataFrame:
        return self._accepted("accepted_hashes", _HASH_SCHEMA, before)

    def accepted_sigs(self, before: int | None = None) -> DataFrame:
        return self._accepted("accepted_sigs", _sig_schema(self.family), before)

    def report(self) -> DataFrame:
        parts = self._state_parts("report")
        if not parts:
            return self.spark.createDataFrame([], _REPORT_SCHEMA)
        return self.spark.read.schema(_REPORT_SCHEMA).parquet(*parts)

    def ann_segments(self, before: int | None = None) -> DataFrame:
        """The job's streaming ANN serving rows — (doc_id, embedding,
        label) of every accepted doc, labeled by the published quantizer
        at accept time. Probe-able by the standard machinery after the
        vec_id rename; between re-trainings a deployment unions these
        with the main index exactly like the batch segments
        (kmeans_ivf.kmeans_ivf_serving_view)."""
        return self._accepted("ann_segments", _ANN_SCHEMA, before)

    def pq_segments(self, before: int | None = None) -> DataFrame:
        """The job's streaming COMPRESSED serving rows — (doc_id, codes,
        label) of every accepted doc, encoded against the published
        corpus-split PQ codebooks and labeled by the published
        corpus-split quantizer at accept time."""
        return self._accepted("pq_segments", _PQ_SCHEMA, before)

    def pq_serving_view(self) -> DataFrame:
        """THE compressed serving view of an ann-enabled job: the main
        corpus-split code table (split-trained labels + codes) ∪ this
        job's accepted streaming code segments, one (vec_id, label,
        codes) row per vector — exactly the shape
        ``pq._ivfpq_serving_members`` builds for batch drops, so the
        shared LUT-ADC probe (``pq._route_df``/``_build_lut``/
        ``_lut_adc_rerank`` with the published split structures) runs
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
        embedding, label) row per vector — the same union
        ``kmeans_ivf_serving_view`` builds for batch drops, so the
        standard probe (`similarity._ivf_probe` with the published
        corpus-split centroids) runs unchanged. Metadata-only: a union
        over the published index files and the job's state partitions
        (pinned bit-equal to the hand-built union in tests)."""
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
    def _kinds(self) -> tuple[tuple[str, str], ...]:
        # ann_segments folds unconditionally: a job resumed WITHOUT the
        # ann stage still compacts segments an earlier ann-enabled run
        # committed (an empty/missing kind is a no-op fold).
        return (
            ("accepted_hashes", _HASH_SCHEMA),
            ("accepted_sigs", _sig_schema(self.family)),
            ("report", _REPORT_SCHEMA),
            ("ann_segments", _ANN_SCHEMA),
            ("pq_segments", _PQ_SCHEMA),
        )

    def fold_state(self) -> dict[str, int | None]:
        """Fold the accumulated per-batch state partitions into ONE
        generation partition per kind, run on the re-index/merge schedule
        like the batch tiers' merged generations and
        ``compact_kmeans_ivf_segments``: without it, at 10k micro-batches
        the per-batch corpus view is a 10k-directory listing and a
        10k-file union. After a fold the per-batch view is
        O(1 + batches-since-fold) directories.

        Doctrine (mirrors ``compact_kmeans_ivf_segments``): NO
        recomputation — the fold is a union of already-committed rows,
        never a re-classification; deterministic overwrite at
        ``f{max_folded_id:010d}``; ``_SUCCESS``-gated (an uncommitted
        fold is invisible). Crash-safety is READ-side: a committed fold
        makes every covered partition ignored by ``_state_parts`` even
        before the cleanup deletes land, so fold → crash → re-fold never
        double-counts and re-running a fold is a no-op (pinned in
        tests/test_streaming_curation.py).

        Replay invariant: the NEWEST committed per-batch partition is
        never folded — its batch is the only one the checkpoint can still
        replay (batches commit sequentially: batch N+1 only runs after
        N's checkpoint commit), and a replay of batch N must reconstruct
        state strictly before N, which a fold containing N would
        contaminate. Every older id folds; superseded folds fold into the
        new one. Returns {kind: new fold id (or the surviving previous
        fold id, or None when the kind has no foldable state)}."""
        return {kind: self._fold_kind(kind, schema) for kind, schema in self._kinds()}

    def _fold_kind(self, kind: str, schema: str) -> int | None:
        parts = self._list_parts(kind)
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
                self._reclaim(kind, parts, prev_fold)
            return prev_fold
        new_id = max(foldable)
        # the effective view at before=new_id+1 IS the fold's content:
        # previous fold (covers ≤ prev_fold) + b partitions in range
        src = self._accepted(kind, schema, before=new_id + 1)
        dst = os.path.join(self.state_dir, kind, f"f{new_id:010d}")
        src.coalesce(1).write.mode("overwrite").parquet(dst)
        self._reclaim(kind, parts, new_id)
        return new_id

    def _reclaim(self, kind: str, parts, fold_id: int) -> None:
        """Delete partitions a committed fold covers (everything at
        id ≤ fold_id except the fold itself). Readers already ignore
        them — deletes are pure space reclamation and re-runnable; a
        failure leaves redundant-but-ignored directories for next time."""
        from kafka_connect_storage_cloud_formats_spark.fsio import _fs_for

        fs = _fs_for(os.path.join(self.state_dir, kind), self.spark)
        for prefix, i, path in parts:
            if i <= fold_id and not (prefix == "f" and i == fold_id):
                fs.delete(path, recursive=True)

    # ---- the drop --------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Classify one micro-batch (columns: doc_id, text, lang, plus
        embedding with the ANN stage on) against the accepted state and
        commit the per-language report and the kept docs' state rows — all
        deterministic overwrites keyed by ``batch_id``.

        1. One map-only pass reads the source once and builds the
           per-document table (doc_id, lang, content_hash, mh_00…mh_11
           [, embedding]), checkpointed. A doc with no shingle (NULL text,
           fewer than 3 tokens) has NULL signature components: it keeps its
           hash row and gets no signature row.
        2. ``_exact_flags`` flags it against the distinct accepted hashes
           (checkpointed: the near-dup tier reads the flags in several
           places, which would otherwise each replay the state scan and
           the window); the unflagged docs with a signature are banded
           against the accepted signatures (``_banded_drop_sets``);
           ``_with_stage`` joins the near-dup marks back as the ``stage``
           column. The classified table is checkpointed.
        3. The report is a ``groupBy`` of it; the hash, signature and
           segment commits are projections of its kept rows."""
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
        table = (
            _with_minhash_array(batch_df.select(*cols), self.family)
            .withColumn("content_hash", F.unhex(F.sha2(F.col("text"), 256)))
            .drop("text")
            .localCheckpoint(eager=True)  # cuts the stream lineage
        )
        # corpus view = strictly-earlier batches (replay determinism: a
        # retried batch must never see its own prior commit as corpus)
        flagged = _exact_flags(
            table, self.accepted_hashes(before=batch_id).select("content_hash").distinct()
        ).localCheckpoint(eager=True)
        survivors = flagged.filter(
            F.col("exact").isNull() & F.col("mh_00").isNotNull()
        ).select("doc_id", *_MH_COLS)
        nd_corpus, nd_within = _banded_drop_sets(
            _band_rows(survivors, self.family),
            _band_rows(self.accepted_sigs(before=batch_id), self.family),
        )
        classified = _with_stage(flagged, nd_corpus, nd_within).localCheckpoint(
            eager=True
        )
        counts = [
            F.sum((F.col("stage") == s).cast("long")).alias(f"n_{s}")
            for s in CURATION_STAGES
        ]
        report = classified.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_batch"), *counts
        ).select(F.lit(batch_id).cast("long").alias("batch_id"), *REPORT_COLUMNS[1:])
        kept = classified.filter(F.col("stage") == "kept")
        part = f"b{batch_id:010d}"
        self._commit(report, "report", part, "lang")
        self._commit(
            kept.select("doc_id", "lang", "content_hash"), "accepted_hashes", part
        )
        self._commit(
            kept.filter(F.col("mh_00").isNotNull()).select("doc_id", *_MH_COLS),
            "accepted_sigs",
            part,
        )
        if self.ann_sf_dir is not None:
            self._commit_ann_segment(kept.select("doc_id", "embedding"), part)

    def _commit(self, df: DataFrame, kind: str, part: str, key: str = "doc_id") -> str:
        """Write one state partition as ONE file sorted by ``key`` (a
        micro-batch's outputs are batch-sized; the sort makes a replay's
        rewrite byte-identical whatever order the shuffles delivered)."""
        path = os.path.join(self.state_dir, kind, part)
        df.coalesce(1).sortWithinPartitions(key).write.mode("overwrite").parquet(path)
        return path

    def _commit_ann_segment(self, kept: DataFrame, part: str) -> None:
        """Assign the batch's KEPT (doc_id, embedding) rows against the
        published corpus-split quantizer and commit the (doc_id,
        embedding, label) serving segment, then its PQ-code twin. The
        assignment is the batch tiers' own
        ``assign_to_published_quantizer`` and the encode their own
        ``_assign_pq``, so a streaming drop lands in exactly the cells and
        codes a batch drop would."""
        from kafka_connect_storage_cloud_formats_spark.operators.kmeans_ivf import (
            assign_to_published_quantizer,
        )
        from kafka_connect_storage_cloud_formats_spark.operators.pq import (
            _assign_pq,
            _collect_pq_matrices,
            train_pq,
        )

        # carry_embedding echoes the vector through the assignment pass
        # (bit-identical), so the segment needs no join to re-attach it
        seg = assign_to_published_quantizer(
            self.spark,
            self.ann_sf_dir,
            kept.withColumnRenamed("doc_id", "vec_id"),
            carry_embedding=True,
        ).select(
            F.col("vec_id").alias("doc_id"),
            "embedding",
            F.col("cluster").cast("long").alias("label"),
        )
        seg_path = self._commit(seg, "ann_segments", part)
        _, cents = train_pq(self.spark, self.ann_sf_dir, split="corpus")
        CB = _collect_pq_matrices(cents)
        # encode FROM the segment just committed (a micro-batch-sized
        # file): one map-only _assign_pq pass carrying the cell through
        committed = self.spark.read.parquet(seg_path).select(
            F.col("doc_id").alias("vec_id"),
            "embedding",
            F.col("label").alias("cluster"),
        )
        pq_seg = _assign_pq(committed, CB, carry_cluster=True).select(
            F.col("vec_id").alias("doc_id"),
            "codes",
            F.col("cluster").alias("label"),
        )
        self._commit(pq_seg, "pq_segments", part)


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
