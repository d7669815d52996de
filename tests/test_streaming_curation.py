"""Streaming curation (streaming/curation.py): each micro-batch is a drop,
classified against the job's accumulated accepted state by the SAME shared
drop rules as the batch tiers, with deterministic-overwrite exactly-once."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from kafka_connect_storage_cloud_formats_spark.streaming.curation import (
    REPORT_COLUMNS,
    StreamingCuration,
    run_curation_stream,
)

DOC_SCHEMA = "doc_id long, text string, lang string"

BATCH1 = [
    (1, "alpha beta gamma delta epsilon zeta", "en"),        # kept
    (2, "alpha beta gamma delta epsilon zeta", "en"),        # exact_within (dup of 1)
    (3, "one two three four five six seven eight", "en"),    # kept
    (4, "one two three four five six seven eight nine", "en"),  # neardup_within of 3
    (5, "nouvelle phrase unique en lot", "fr"),              # kept
]
BATCH2 = [
    (11, "alpha beta gamma delta epsilon zeta", "en"),       # dup of accepted 1 → exact_corpus
    (12, "alpha beta gamma delta epsilon zeta extra", "en"), # near-dup of accepted 1 → neardup_corpus
    (13, "entirely novel second drop content", "en"),        # kept
    (14, "one two three four five six seven eight nine", "en"),  # near-dup of accepted 3 → neardup_corpus
]


def _drive(spark, tmp_path, subdir="run"):
    src = str(tmp_path / subdir / "src")
    state = str(tmp_path / subdir / "state")
    ckpt = str(tmp_path / subdir / "ckpt")
    os.makedirs(src)
    # one file per micro-batch, processed in order (maxFilesPerTrigger=1)
    spark.createDataFrame(BATCH1, DOC_SCHEMA).coalesce(1).write.parquet(f"{src}/f0")
    spark.createDataFrame(BATCH2, DOC_SCHEMA).coalesce(1).write.parquet(f"{src}/f1")
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    return run_curation_stream(spark, stream, state, ckpt), state, ckpt, src


def test_two_batch_stream_classifies_against_accumulated_state(spark, tmp_path):
    cur, state, ckpt, src = _drive(spark, tmp_path)
    rep = {
        (r["batch_id"], r["lang"]): r.asDict()
        for r in cur.report().collect()
    }
    assert set(r[:1] for r in rep) == {(0,), (1,)}
    b1_en = rep[(0, "en")]
    assert (
        b1_en["n_batch"],
        b1_en["n_exact_within"],
        b1_en["n_neardup_within"],
        b1_en["n_kept"],
    ) == (4, 1, 1, 2)
    assert rep[(0, "fr")]["n_kept"] == 1
    b2 = rep[(1, "en")]
    assert (
        b2["n_batch"],
        b2["n_exact_corpus"],
        b2["n_neardup_corpus"],
        b2["n_kept"],
    ) == (4, 1, 2, 1)
    # accepted state = batch-1 keeps {1, 3, 5} + batch-2 keep {13}
    kept_ids = sorted(r["doc_id"] for r in cur.accepted_hashes().collect())
    assert kept_ids == [1, 3, 5, 13]
    assert sorted(r["doc_id"] for r in cur.accepted_sigs().collect()) == [1, 3, 5, 13]
    # report columns are the declared contract
    assert tuple(cur.report().columns) == REPORT_COLUMNS


def test_rerun_over_same_checkpoint_is_a_noop(spark, tmp_path):
    cur, state, ckpt, src = _drive(spark, tmp_path, subdir="rerun")
    def snapshot():
        return (
            sorted(map(tuple, cur.report().collect())),
            sorted(r["doc_id"] for r in cur.accepted_hashes().collect()),
        )
    before = snapshot()
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    run_curation_stream(spark, stream, state, ckpt)  # same checkpoint: no new batches
    assert snapshot() == before


def test_foreachbatch_retry_is_idempotent(spark, tmp_path):
    """The exactly-once mechanism itself: foreachBatch is at-least-once
    under retry, so re-invoking process_batch with the SAME (batch_df,
    batch_id) — a replay after a crash between the state write and the
    checkpoint commit — must leave byte-identical state: the batch's own
    partitions are overwritten deterministically and later batches are
    untouched."""
    state = str(tmp_path / "state")
    cur = StreamingCuration(spark, state)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    b2 = spark.createDataFrame(BATCH2, DOC_SCHEMA)
    cur.process_batch(b1, 0)
    cur.process_batch(b2, 1)

    def snapshot():
        return (
            sorted(map(tuple, cur.report().collect())),
            sorted(map(tuple, cur.accepted_hashes().collect())),
            sorted(map(tuple, cur.accepted_sigs().collect())),
        )

    def part_bytes():
        """{kind/b-partition: sorted part-file contents} — the commits sort
        each file by its key, so a replay must rewrite the same bytes even
        though the rows reach the write through shuffles."""
        out = {}
        for kind in ("report", "accepted_hashes", "accepted_sigs"):
            for prefix, _, path in cur._list_parts(kind):
                if prefix != "b":
                    continue
                out[f"{kind}/{os.path.basename(path)}"] = sorted(
                    open(os.path.join(path, f), "rb").read()
                    for f in os.listdir(path)
                    if not f.startswith(("_", "."))
                )
        return out

    committed = snapshot()
    committed_bytes = part_bytes()
    assert len(committed_bytes) == 6
    cur.process_batch(b2, 1)  # the retry: replays against batch-0 state only
    assert snapshot() == committed
    assert part_bytes() == committed_bytes
    cur.process_batch(b1, 0)  # an out-of-order replay of an older batch
    assert snapshot() == committed
    assert part_bytes() == committed_bytes


def test_streaming_curation_under_xxhash64_family(spark, tmp_path, monkeypatch):
    """The production hash family must stream, not crash (round-12 third
    review: the sig-state schema hardcoded md5's string columns, so batch
    2's state read threw under xxhash64): the state namespace is
    family-keyed, the long-typed signature rows roundtrip, and the
    family-BLIND decisions (exact tier; n_batch) match the md5 fixture —
    near-dup counts are legitimately family-dependent on borderline pairs
    and are not pinned here."""
    monkeypatch.setenv("SPARK_GRAFT_HASH_FAMILY", "xxhash64")
    state = str(tmp_path / "state")
    cur = StreamingCuration(spark, state)
    assert cur.state_dir.endswith("xxhash64")
    cur.process_batch(spark.createDataFrame(BATCH1, DOC_SCHEMA), 0)
    cur.process_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA), 1)
    rep = {(r["batch_id"], r["lang"]): r.asDict() for r in cur.report().collect()}
    assert rep[(0, "en")]["n_batch"] == 4 and rep[(0, "en")]["n_exact_within"] == 1
    assert rep[(1, "en")]["n_batch"] == 4
    # doc 11 is an exact dup of doc 1 — but only if 1 was KEPT under this
    # family; assert the family-blind invariant instead: stages partition
    for r in rep.values():
        assert r["n_batch"] == sum(
            r[f"n_{s}"] for s in (
                "exact_corpus", "exact_within", "neardup_corpus",
                "neardup_within", "kept",
            )
        )
    # and the long-typed signature state read back without schema errors
    assert cur.accepted_sigs().count() > 0


BATCH3 = [
    (21, "entirely novel second drop content", "en"),  # dup of accepted 13 → exact_corpus
    (22, "third wave totally original text", "en"),    # kept
]

_KINDS = ("report", "accepted_hashes", "accepted_sigs")


def _snapshot(cur):
    return tuple(sorted(map(tuple, getattr(cur, k)().collect())) for k in _KINDS)


def test_fold_state_preserves_content_and_refold_is_noop(spark, tmp_path):
    """fold_state (round-12 verdict "What's missing #1"): folding the
    per-batch partitions into one generation changes the LAYOUT only —
    every read (report, accepted hashes, accepted signatures) is
    row-identical before and after, a second fold is a no-op, and the
    newest committed batch is never folded (the replay invariant)."""
    cur = StreamingCuration(spark, str(tmp_path / "state"))
    for i, b in enumerate((BATCH1, BATCH2, BATCH3)):
        cur.process_batch(spark.createDataFrame(b, DOC_SCHEMA), i)
    before = _snapshot(cur)
    folded = cur.fold_state()
    assert folded == {
        "accepted_hashes": 1,
        "accepted_sigs": 1,
        "report": 1,
        "ann_segments": None,  # kind folds unconditionally; empty here
        "pq_segments": None,  # same (round 15 — no ann stage in this job)
    }
    assert _snapshot(cur) == before
    assert cur.fold_state() == folded  # re-fold: nothing new → no-op
    assert _snapshot(cur) == before
    # layout: exactly one fold generation + the unfolded newest batch
    for kind in _KINDS:
        assert [(p, i) for p, i, _ in cur._list_parts(kind)] == [("f", 1), ("b", 2)]


def test_folded_state_serves_next_batch_identically(spark, tmp_path):
    """Twin jobs, identical batches; one folds mid-stream. The fold must
    be invisible to classification: batch 3's dispositions and the final
    accepted state match the never-folded twin row-for-row."""
    twins = [StreamingCuration(spark, str(tmp_path / d)) for d in ("a", "b")]
    for cur in twins:
        cur.process_batch(spark.createDataFrame(BATCH1, DOC_SCHEMA), 0)
        cur.process_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA), 1)
    twins[0].fold_state()
    for cur in twins:
        cur.process_batch(spark.createDataFrame(BATCH3, DOC_SCHEMA), 2)
    assert _snapshot(twins[0]) == _snapshot(twins[1])
    rep = {
        (r["batch_id"], r["lang"]): r.asDict() for r in twins[0].report().collect()
    }
    # 21 duplicates accepted 13 (batch-2's keep) → the fold really served
    # the accumulated corpus; 22 is novel → kept
    assert rep[(2, "en")]["n_exact_corpus"] == 1
    assert rep[(2, "en")]["n_kept"] == 1


def test_fold_crash_before_cleanup_never_double_counts(spark, tmp_path):
    """Crash-safety is read-side: a committed fold makes covered per-batch
    partitions ignored even while they still exist (fold → crash before
    cleanup → reads stay exact; the next fold_state reclaims them)."""
    import shutil

    cur = StreamingCuration(spark, str(tmp_path / "state"))
    for i, b in enumerate((BATCH1, BATCH2, BATCH3)):
        cur.process_batch(spark.createDataFrame(b, DOC_SCHEMA), i)
    before = _snapshot(cur)
    saved = []  # the partitions the fold will cover, snapshotted pre-fold
    for n, kind in enumerate(_KINDS):
        for prefix, i, path in cur._list_parts(kind):
            if prefix == "b" and i <= 1:
                keep = str(tmp_path / f"save_{n}_{i}")
                shutil.copytree(path, keep)
                saved.append((path, keep))
    assert cur.fold_state()["report"] == 1
    for path, keep in saved:  # the "crash": cleanup deletes never landed
        shutil.copytree(keep, path)
    assert _snapshot(cur) == before  # fold wins; leftovers are ignored
    assert cur.fold_state()["report"] == 1  # re-fold reclaims, still no-op
    assert _snapshot(cur) == before
    for kind in _KINDS:
        assert [(p, i) for p, i, _ in cur._list_parts(kind)] == [("f", 1), ("b", 2)]


def test_replay_of_newest_batch_after_fold_is_idempotent(spark, tmp_path):
    """The replay invariant end-to-end: after a fold, a foreachBatch retry
    of the NEWEST batch (the only checkpoint-replayable one) still
    reconstructs its exact pre-batch corpus view — the fold never
    contains that batch — and rewrites byte-identical state."""
    cur = StreamingCuration(spark, str(tmp_path / "state"))
    for i, b in enumerate((BATCH1, BATCH2, BATCH3)):
        cur.process_batch(spark.createDataFrame(b, DOC_SCHEMA), i)
    cur.fold_state()
    committed = _snapshot(cur)
    cur.process_batch(spark.createDataFrame(BATCH3, DOC_SCHEMA), 2)  # the retry
    assert _snapshot(cur) == committed


def test_foreign_entries_under_state_dir_are_ignored(spark, tmp_path):
    """Round-12 ADVICE: a non-numeric b-prefixed entry (manual backup,
    foreign leftover) under a state kind dir used to ValueError every
    subsequent read and micro-batch; entries not matching the exact
    letter+10-digits shape are simply not state."""
    import os

    cur = StreamingCuration(spark, str(tmp_path / "state"))
    cur.process_batch(spark.createDataFrame(BATCH1, DOC_SCHEMA), 0)
    root = os.path.join(cur.state_dir, "accepted_hashes")
    os.makedirs(os.path.join(root, "b0000000000.bak"))  # dir, bad shape
    with open(os.path.join(root, "backup"), "w") as f:  # plain file
        f.write("junk")
    os.makedirs(os.path.join(root, "b123"))  # numeric but not 10 digits
    assert sorted(r["doc_id"] for r in cur.accepted_hashes().collect()) == [1, 3, 5]
    cur.process_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA), 1)  # still runs
    assert sorted(r["doc_id"] for r in cur.accepted_hashes().collect()) == [1, 3, 5, 13]


def test_scheduled_fold_every_matches_unfolded_twin(spark, tmp_path):
    """fold_every wires the fold into the job's own schedule: a job
    folding every 2 batches must classify and accumulate identically to
    the never-folding twin, and its state layout must show the fold ran."""
    import os

    folding = StreamingCuration(spark, str(tmp_path / "a"), fold_every=2)
    plain = StreamingCuration(spark, str(tmp_path / "b"))
    for cur in (folding, plain):
        for i, b in enumerate((BATCH1, BATCH2, BATCH3)):
            cur.process_batch(spark.createDataFrame(b, DOC_SCHEMA), i)
    assert _snapshot(folding) == _snapshot(plain)
    # batch 2 triggered the fold (covers batches < newest committed at
    # that moment, i.e. batch 0), so a fold generation exists
    parts = folding._list_parts("accepted_hashes")
    assert ("f", 0) in [(p, i) for p, i, _ in parts]


def test_scheduled_fold_is_retry_safe(spark, tmp_path):
    """A replayed NEWEST batch re-triggers its scheduled fold against
    state that now includes its own committed partitions — the fold it
    produces covers a later id than the first attempt's, but fold
    content is a pure function of its id, so every read and the
    rewritten batch outputs stay identical. The second replay here is
    the out-of-order case Structured Streaming never produces (only the
    newest batch can be checkpoint-uncommitted): a replay of an
    already-FOLDED batch sees a pre-fold corpus view it cannot
    reconstruct and rewrites its covered partition differently — and the
    fold SHIELDS every reader from that rewrite (covered partitions are
    reader-ignored; the next fold's reclaim deletes them), so state
    stays exact even under a forced out-of-order replay."""
    cur = StreamingCuration(spark, str(tmp_path / "state"), fold_every=1)
    for i, b in enumerate((BATCH1, BATCH2, BATCH3)):
        cur.process_batch(spark.createDataFrame(b, DOC_SCHEMA), i)
    committed = _snapshot(cur)
    cur.process_batch(spark.createDataFrame(BATCH3, DOC_SCHEMA), 2)  # retry
    assert _snapshot(cur) == committed
    cur.process_batch(spark.createDataFrame(BATCH2, DOC_SCHEMA), 1)  # older replay
    assert _snapshot(cur) == committed


def test_steady_state_batch_job_count(spark, tmp_path):
    """A steady-state micro-batch (two committed batches before it, no
    fold) runs as one checkpointed per-document table plus one classified
    table and four commits; this bounds the Spark jobs it submits, so a
    change that re-joins the drop sets again shows up here."""
    sc = spark.sparkContext
    cur = StreamingCuration(spark, str(tmp_path / "state"))
    for i, b in enumerate((BATCH1, BATCH2)):
        cur.process_batch(spark.createDataFrame(b, DOC_SCHEMA), i)
    batch = spark.createDataFrame(BATCH3, DOC_SCHEMA)
    group = "test_steady_state_batch_job_count"
    sc.setJobGroup(group, group)
    try:
        cur.process_batch(batch, 2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 20, len(jobs)


# ---- the chain rule against a plain-Python reference ----------------------


def _generated_drops(seed, n_drops=3, n_base=24):
    """Drops with planted duplicates: fresh bases (30–60 random words over a
    large vocabulary), exact copies of this drop's bases, exact copies and
    one-word edits of earlier drops' bases, one-word edits of this drop's
    bases (near duplicates within the drop), and docs with NULL text or
    fewer than 3 tokens. Ids are shuffled within a drop, so a copy can
    carry a smaller id than its original."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(5000)]
    langs = ("en", "de", "fr")
    earlier, drops, next_id = [], [], 1

    def edit(text):
        toks = text.split(" ")
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
        return " ".join(toks)

    for _ in range(n_drops):
        bases = [
            (" ".join(rng.choice(vocab) for _ in range(rng.randint(30, 60))), rng.choice(langs))
            for _ in range(n_base)
        ]
        docs = list(bases)
        docs += [rng.choice(bases) for _ in range(4)]
        docs += [(edit(t), l) for t, l in rng.sample(bases, 4)]
        if earlier:
            docs += [rng.choice(earlier) for _ in range(4)]
            docs += [(edit(t), l) for t, l in rng.sample(earlier, 4)]
        docs += [(None, "en"), ("two words", "de"), ("", "fr")]
        ids = list(range(next_id, next_id + len(docs)))
        rng.shuffle(ids)
        next_id += len(docs)
        drops.append([(i, t, l) for i, (t, l) in zip(ids, docs)])
        earlier += bases
    return drops


def _reference_chain(drops, sigs):
    """The five-stage chain in plain Python, from collected signatures:
    exact_corpus (hash accepted before) → exact_within (not the min id of
    its hash among the drop's fresh docs) → neardup_corpus (≥1 equal
    3-component band and ≥6/12 equal components with an accepted doc) →
    neardup_within (the same test against a smaller-id fresh survivor) →
    kept. Returns ({(batch, lang): stage counts}, accepted ids)."""
    import hashlib

    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_K,
    )

    def strong(a, b):
        band = any(
            a[r * LSH_ROWS : (r + 1) * LSH_ROWS] == b[r * LSH_ROWS : (r + 1) * LSH_ROWS]
            for r in range(LSH_BANDS)
        )
        return band and sum(x == y for x, y in zip(a, b)) * 2 >= MINHASH_K

    acc_hashes, acc_sigs, accepted, report = set(), [], set(), {}
    for batch_id, drop in enumerate(drops):
        h = {
            d: None if t is None else hashlib.sha256(t.encode()).digest()
            for d, t, _ in drop
        }
        stage = {}
        for d, _, _ in drop:
            if h[d] is not None and h[d] in acc_hashes:
                stage[d] = "exact_corpus"
        fresh = [d for d, _, _ in drop if d not in stage]
        for d in fresh:
            if d != min(e for e in fresh if h[e] == h[d]):
                stage[d] = "exact_within"
        surv = sorted(d for d in fresh if d not in stage and d in sigs)
        for d in surv:
            if any(strong(sigs[d], s) for s in acc_sigs):
                stage[d] = "neardup_corpus"
        nd_fresh = [d for d in surv if d not in stage]
        for d in nd_fresh:
            if any(e < d and strong(sigs[d], sigs[e]) for e in nd_fresh):
                stage[d] = "neardup_within"
        for d, _, lang in drop:
            s = stage.setdefault(d, "kept")
            key = (batch_id, lang)
            counts = report.setdefault(key, {"n_batch": 0})
            counts["n_batch"] += 1
            counts[f"n_{s}"] = counts.get(f"n_{s}", 0) + 1
            if s == "kept":
                accepted.add(d)
                if h[d] is not None:
                    acc_hashes.add(h[d])
                if d in sigs:
                    acc_sigs.append(sigs[d])
    return report, accepted


@pytest.mark.parametrize("family", ["md5", "xxhash64"])
def test_chain_matches_python_reference_over_generated_drops(
    spark, tmp_path, monkeypatch, family
):
    """Three generated drops with planted exact and near duplicates through
    the streaming job, checked against :func:`_reference_chain` computed
    from the aggregate-form signatures of the same docs: every report row
    and the accepted ids of both state kinds."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        CURATION_STAGES,
        MINHASH_K,
        _minhash_sigs_from,
    )

    monkeypatch.setenv("SPARK_GRAFT_HASH_FAMILY", family)
    drops = _generated_drops(seed=11)
    all_docs = spark.createDataFrame([r for d in drops for r in d], DOC_SCHEMA)
    sigs = {
        r["doc_id"]: tuple(r[f"mh_{k:02d}"] for k in range(MINHASH_K))
        for r in _minhash_sigs_from(all_docs, family=family).collect()
    }
    ref_report, ref_accepted = _reference_chain(drops, sigs)
    for counts in ref_report.values():
        for s in CURATION_STAGES:
            counts.setdefault(f"n_{s}", 0)
    # the fixture exercises every stage
    for s in CURATION_STAGES:
        assert sum(c[f"n_{s}"] for c in ref_report.values()) > 0, s

    cur = StreamingCuration(spark, str(tmp_path / "state"))
    for i, drop in enumerate(drops):
        cur.process_batch(spark.createDataFrame(drop, DOC_SCHEMA), i)
    got = {
        (r["batch_id"], r["lang"]): {k: v for k, v in r.asDict().items() if k.startswith("n_")}
        for r in cur.report().collect()
    }
    assert got == ref_report
    assert {r["doc_id"] for r in cur.accepted_hashes().collect()} == ref_accepted
    assert {r["doc_id"] for r in cur.accepted_sigs().collect()} == {
        d for d in ref_accepted if d in sigs
    }


# ---- streaming ANN serving segments ------------------------------------------
# A micro-batch's kept docs publish an embedding serving segment via the
# batch tiers' own published-quantizer assignment.

ANN_DOC_SCHEMA = "doc_id long, text string, lang string, embedding array<float>"


def _emb(doc_id):
    # deterministic small-integer vector: exactly representable in float32,
    # nonzero norm (the probe's zero-norm contract)
    return [float((doc_id * 31 + d) % 17 + 1) for d in range(64)]


def _drive_ann(spark, tmp_path, sf_dir, subdir="ann"):
    src = str(tmp_path / subdir / "src")
    state = str(tmp_path / subdir / "state")
    ckpt = str(tmp_path / subdir / "ckpt")
    os.makedirs(src)
    b1 = [(d, t, l, _emb(d)) for d, t, l in BATCH1]
    b2 = [(d, t, l, _emb(d)) for d, t, l in BATCH2]
    spark.createDataFrame(b1, ANN_DOC_SCHEMA).coalesce(1).write.parquet(f"{src}/f0")
    spark.createDataFrame(b2, ANN_DOC_SCHEMA).coalesce(1).write.parquet(f"{src}/f1")
    stream = (
        spark.readStream.schema(ANN_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    from kafka_connect_storage_cloud_formats_spark.streaming.curation import (
        run_curation_stream as rcs,
    )

    return rcs(spark, stream, state, ckpt, ann_sf_dir=sf_dir), state, ckpt, src


def test_streaming_ann_segments_twin_of_batch_drops(spark, tmp_path, sf_dir):
    """Twin-job equivalence: a stream of 2 batches publishes exactly the
    segments 2 BATCH drops of the same kept docs would (same published
    corpus-split quantizer, same assignment kernel), and a serving-view
    probe over main ∪ streaming-segments is bit-equal to one over
    main ∪ batch-assigned drops. Plus rerun-over-checkpoint no-op."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import published_df
    from kafka_connect_storage_cloud_formats_spark.operators.kmeans_ivf import (
        assign_to_published_quantizer,
        build_kmeans_ivf_index,
        train_kmeans_quantizer,
    )
    from kafka_connect_storage_cloud_formats_spark.operators.similarity import (
        _ivf_probe,
        _with_norm,
    )

    cur, state, ckpt, src = _drive_ann(spark, tmp_path, sf_dir)
    segs = cur.ann_segments().collect()
    # kept sets pinned by the classification tests: {1,3,5} then {13}
    assert sorted(r["doc_id"] for r in segs) == [1, 3, 5, 13]
    # labels = the batch-side assignment of the same kept vectors
    expected = {}
    batch_sides = []
    for batch, keeps in ((BATCH1, {1, 3, 5}), (BATCH2, {13})):
        vecs = spark.createDataFrame(
            [(d, _emb(d)) for d, _, _ in batch if d in keeps],
            "vec_id long, embedding array<float>",
        )
        assigned = assign_to_published_quantizer(spark, sf_dir, vecs)
        drop = vecs.join(
            assigned.select("vec_id", F.col("cluster").cast("long").alias("label")),
            "vec_id",
        )
        batch_sides.append(drop)
        expected.update({r["vec_id"]: r["cluster"] for r in assigned.collect()})
    assert {r["doc_id"]: r["label"] for r in segs} == expected
    # embeddings stored float32-exact
    stored = {r["doc_id"]: r["embedding"] for r in segs}
    for d in (1, 3, 5, 13):
        assert stored[d] == _emb(d)
    # probe bit-equality over the two serving views
    _, cent_long = train_kmeans_quantizer(spark, sf_dir, split="corpus")
    main = published_df(
        spark, build_kmeans_ivf_index(spark, sf_dir, split="corpus")
    ).select("vec_id", "embedding", F.col("label").cast("long").alias("label"))
    # the library serving view IS the union (and must equal the hand-built
    # batch-side one row-for-row before any probe runs)
    stream_view = cur.ann_serving_view()
    batch_view = main
    for drop in batch_sides:
        batch_view = batch_view.unionByName(drop.select("vec_id", "embedding", "label"))
    a = sorted(map(tuple, _ivf_probe(spark, sf_dir, cent_long, _with_norm(stream_view)).collect()))
    b = sorted(map(tuple, _ivf_probe(spark, sf_dir, cent_long, _with_norm(batch_view)).collect()))
    assert a == b and a
    # rerun over the same checkpoint: no new batches, ann state unchanged
    before = sorted(map(tuple, segs))
    stream = (
        spark.readStream.schema(ANN_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    from kafka_connect_storage_cloud_formats_spark.streaming.curation import (
        run_curation_stream as rcs,
    )

    rcs(spark, stream, state, ckpt, ann_sf_dir=sf_dir)
    assert sorted(map(tuple, cur.ann_segments().collect())) == before


def test_streaming_pq_segments_twin_of_batch_encode(spark, tmp_path, sf_dir):
    """The COMPRESSED segment kind (round 15): a stream of 2 batches
    publishes exactly the PQ codes the batch tier's encode-without-
    retrain would emit for the same kept vectors (same published
    corpus-split codebooks, same _assign_pq kernel), labeled by the same
    published coarse assignment; the compressed serving view equals the
    hand-built batch-side union; rerun over the checkpoint is a no-op."""
    from kafka_connect_storage_cloud_formats_spark.operators.kmeans_ivf import (
        assign_to_published_quantizer,
    )
    from kafka_connect_storage_cloud_formats_spark.operators.pq import (
        _assign_pq,
        _collect_pq_matrices,
        train_pq,
    )

    cur, state, ckpt, src = _drive_ann(spark, tmp_path, sf_dir, subdir="pqseg")
    segs = cur.pq_segments().collect()
    assert sorted(r["doc_id"] for r in segs) == [1, 3, 5, 13]
    _, cents = train_pq(spark, sf_dir, split="corpus")
    CB = _collect_pq_matrices(cents)
    expected_codes, expected_cells = {}, {}
    for batch, keeps in ((BATCH1, {1, 3, 5}), (BATCH2, {13})):
        vecs = spark.createDataFrame(
            [(d, _emb(d)) for d, _, _ in batch if d in keeps],
            "vec_id long, embedding array<float>",
        )
        expected_codes.update(
            {r["vec_id"]: tuple(r["codes"]) for r in _assign_pq(vecs, CB).collect()}
        )
        expected_cells.update(
            {
                r["vec_id"]: r["cluster"]
                for r in assign_to_published_quantizer(spark, sf_dir, vecs).collect()
            }
        )
    assert {r["doc_id"]: tuple(r["codes"]) for r in segs} == expected_codes
    assert {r["doc_id"]: r["label"] for r in segs} == expected_cells
    # the compressed serving view = main split codes ∪ the streaming segments
    view = {
        r["vec_id"]: (r["label"], tuple(r["codes"]))
        for r in cur.pq_serving_view().collect()
    }
    from kafka_connect_storage_cloud_formats_spark.operators.kmeans_ivf import (
        train_kmeans_quantizer,
    )

    assignment, _ = train_kmeans_quantizer(spark, sf_dir, split="corpus")
    codes_df, _ = train_pq(spark, sf_dir, split="corpus")
    main = {
        r["vec_id"]: (r["cluster"], tuple(r["codes"]))
        for r in assignment.join(codes_df, "vec_id").collect()
    }
    expect_view = dict(main)
    for d in (1, 3, 5, 13):
        expect_view[d] = (expected_cells[d], expected_codes[d])
    assert view == expect_view
    # rerun over the same checkpoint: no new batches, pq state unchanged
    before = sorted((r["doc_id"], tuple(r["codes"]), r["label"]) for r in segs)
    stream = (
        spark.readStream.schema(ANN_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    from kafka_connect_storage_cloud_formats_spark.streaming.curation import (
        run_curation_stream as rcs,
    )

    rcs(spark, stream, state, ckpt, ann_sf_dir=sf_dir)
    assert (
        sorted((r["doc_id"], tuple(r["codes"]), r["label"]) for r in cur.pq_segments().collect())
        == before
    )


def test_streaming_pq_fold_and_replay_invariants(spark, tmp_path, sf_dir):
    """The pq kind folds on the same schedule and invariants as every
    other kind: fold preserves rows, never folds the newest batch,
    refold is a no-op, and a replay of the newest batch rewrites its
    code segment byte-identically against the folded state."""
    cur, state, ckpt, src = _drive_ann(spark, tmp_path, sf_dir, subdir="pqfold")
    before = sorted(
        (r["doc_id"], tuple(r["codes"]), r["label"])
        for r in cur.pq_segments().collect()
    )
    ids = cur.fold_state()
    assert ids["pq_segments"] == 0  # batch 1 is newest → only batch 0 folds
    now = sorted(
        (r["doc_id"], tuple(r["codes"]), r["label"])
        for r in cur.pq_segments().collect()
    )
    assert now == before
    assert cur.fold_state()["pq_segments"] == 0  # refold no-op
    b2 = spark.createDataFrame(
        [(d, t, l, _emb(d)) for d, t, l in BATCH2], ANN_DOC_SCHEMA
    )
    cur.process_batch(b2, 1)
    assert (
        sorted(
            (r["doc_id"], tuple(r["codes"]), r["label"])
            for r in cur.pq_segments().collect()
        )
        == before
    )


def test_streaming_ann_fold_and_replay_invariants(spark, tmp_path, sf_dir):
    """The ann kind folds on the same schedule and under the same
    invariants as every other kind: fold preserves the serving rows,
    never folds the newest batch, refold is a no-op, and a replay of the
    newest batch rewrites its segment byte-identically against the
    folded state."""
    cur, state, ckpt, src = _drive_ann(spark, tmp_path, sf_dir, subdir="annfold")
    before = sorted(map(tuple, cur.ann_segments().collect()))
    ids = cur.fold_state()
    assert ids["ann_segments"] == 0  # batch 1 is newest → only batch 0 folds
    assert sorted(map(tuple, cur.ann_segments().collect())) == before
    assert cur.fold_state()["ann_segments"] == 0  # refold no-op
    # replay of the newest batch against the folded state
    b2 = spark.createDataFrame(
        [(d, t, l, _emb(d)) for d, t, l in BATCH2], ANN_DOC_SCHEMA
    )
    cur.process_batch(b2, 1)
    assert sorted(map(tuple, cur.ann_segments().collect())) == before
