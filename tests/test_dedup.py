"""Invariant tests for the dedup tier (oracle parity is covered by
tools/check_correctness.py; these check structural properties cheaply).
"""

from pyspark.sql import functions as F

from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    SIMHASH_MAX_HAMMING,
    dedup_exact,
    dedup_ngram_jaccard,
    minhash_lsh_pairs,
    simhash_near_pairs,
)


def test_exact_dedup_partitions_corpus(spark, sf_dir):
    """Every document belongs to exactly one content-hash group."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    groups = dedup_exact(spark, sf_dir)
    assert groups.select(F.sum("n_copies")).first()[0] == docs.count()
    # keeper ids are distinct documents
    assert groups.select("keep_doc_id").distinct().count() == groups.count()


def test_ngram_jaccard_bounds(spark, sf_dir):
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    bad = pairs.filter(
        (F.col("jaccard") < JACCARD_THRESHOLD) | (F.col("jaccard") > 1.0) | (F.col("d1") >= F.col("d2"))
    )
    assert bad.count() == 0


def test_length_filter_keeps_exact_boundary_pair(spark):
    """Round-7 ADVICE regression pin: the map-side length filter must use
    the DIVISION form. At the exact-boundary pair (n1, n2) = (10, 100)
    with 10 shared shingles, J = 10/100 passes the downstream
    ``jaccard >= 0.1`` filter — but the old multiplication form evaluated
    ``100 * 0.1 = 10.000000000000002 > 10`` and dropped the pair map-side:
    a false negative vs the oracle. The division form is conservative by
    monotonic IEEE rounding (J ≤ min/max rationally ⇒ double(J) ≤
    double(min/max))."""
    row = spark.createDataFrame([(10, 100)], "n1 int, n2 int").select(
        F.struct(F.col("n1"), F.col("n2")).alias("p")
    )
    kept = row.filter(
        F.expr(f"least(p.n1, p.n2) / greatest(p.n1, p.n2) >= {JACCARD_THRESHOLD}")
    ).count()
    assert kept == 1, "boundary pair must survive the map-side length filter"
    # and the downstream filter agrees: J = 10/100 passes
    assert 10.0 / (10 + 100 - 10) >= JACCARD_THRESHOLD


def test_lsh_recall_of_exact_duplicates(spark, sf_dir):
    """Exact duplicates (J=1) must always collide in every LSH band, so each
    multi-copy content-hash group implies LSH pairs with est_jaccard=1."""
    dupes = dedup_exact(spark, sf_dir).filter(F.col("n_copies") > 1)
    lsh = minhash_lsh_pairs(spark, sf_dir).filter(F.col("est_jaccard") == 1.0)
    n_dupe_groups = dupes.count()
    if n_dupe_groups:
        assert lsh.count() >= n_dupe_groups


def test_simhash_pairs_within_distance(spark, sf_dir):
    pairs = simhash_near_pairs(spark, sf_dir)
    assert pairs.filter(F.col("hamming") > SIMHASH_MAX_HAMMING).count() == 0
    # pigeonhole blocking is exact for d<=3: identical docs must appear at distance 0
    dupes = dedup_exact(spark, sf_dir).filter(F.col("n_copies") > 1)
    if dupes.count():
        assert pairs.filter(F.col("hamming") == 0).count() > 0


def test_minhash_signature_artifact_built_once_and_consistent(spark, sf_dir):
    """The materialized signature table must (a) publish at the
    content-keyed path, (b) NOT rebuild on a second consumer call, and
    (c) hold exactly the rows the in-session derivation produces."""
    import os

    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_path
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        MINHASH_K,
        SHINGLE_N,
        _ensure_minhash_sigs,
        _minhash_sig_table,
    )

    # the REAL params key (a no-params path here passed spuriously through
    # round 5 against a stale r4-era artifact in the shared tempdir)
    path = artifact_path(
        "minhash_sigs", sf_dir, "documents", params=f"k{MINHASH_K}n{SHINGLE_N}"
    )
    art = _ensure_minhash_sigs(spark, sf_dir)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    # rebuild proxy: the _SUCCESS file's mtime (the DIRECTORY mtime is
    # deliberately refreshed on every consumer open — sweep-grace liveness)
    stamp = os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns
    _ensure_minhash_sigs(spark, sf_dir)  # second consumer: cache hit
    assert (
        os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns == stamp
    ), "artifact rebuilt on cache hit"
    got = {tuple(r) for r in art.collect()}
    want = {tuple(r) for r in _minhash_sig_table(spark, sf_dir).collect()}
    assert got == want


def test_shingle_artifact_built_once_and_matches_derivation(spark, sf_dir):
    """The shared shingle-rows artifact (round-6: replaced the consumers'
    per-plan localCheckpoint) must publish at the params-keyed path (n=3
    and n=5 are distinct artifacts), not rebuild on a second consumer, and
    hold exactly the rows the in-session derivation produces."""
    import os

    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_path
    from kafka_connect_storage_cloud_formats_spark.catalog import load_table
    from kafka_connect_storage_cloud_formats_spark.operators.shingles import (
        ensure_shingle_rows,
        shingle_stream,
    )

    path3 = artifact_path("shingle_rows", sf_dir, "documents", params="n3")
    art = ensure_shingle_rows(spark, sf_dir, 3)
    assert os.path.exists(os.path.join(path3, "_SUCCESS"))
    # rebuild proxy: the _SUCCESS file's mtime (the DIRECTORY mtime is
    # deliberately refreshed on every consumer open — sweep-grace liveness)
    stamp = os.stat(os.path.join(path3, "_SUCCESS")).st_mtime_ns
    ensure_shingle_rows(spark, sf_dir, 3)  # second consumer: cache hit
    assert (
        os.stat(os.path.join(path3, "_SUCCESS")).st_mtime_ns == stamp
    ), "artifact rebuilt on cache hit"
    got = {tuple(r) for r in art.collect()}
    want = {
        tuple(r)
        for r in shingle_stream(load_table(spark, sf_dir, "documents"), 3).collect()
    }
    assert got == want
    # width is part of the key: n=5 is a different artifact family
    path5 = artifact_path("shingle_rows", sf_dir, "documents", params="n5")
    assert path5 != path3


def test_capped_shingle_artifact_matches_live_derivation(spark, sf_dir):
    """The capped+sized shingle artifact must hold exactly what the live
    cap pipeline produces: hot shingles (df > cap) absent, every row
    annotated with its doc's capped-set size, params (n, cap) in the key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_path
    from kafka_connect_storage_cloud_formats_spark.operators.shingles import (
        ensure_capped_shingle_rows,
        ensure_shingle_rows,
    )

    cap = 3  # tight cap so the fixture actually excludes something
    art = ensure_capped_shingle_rows(spark, sf_dir, 3, cap)
    got = sorted(tuple(r) for r in art.collect())
    sh_all = ensure_shingle_rows(spark, sf_dir, 3).select("doc_id", "s")
    hot = (
        sh_all.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap).select("s")
    )
    live = sh_all.join(hot, "s", "left_anti").select(
        "doc_id", "s",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_sh"),
    )
    want = sorted(tuple(r) for r in live.collect())
    assert got == want and len(got) > 0
    # the cap genuinely binds on the fixture and is part of the cache key
    assert len(got) < sh_all.count()
    assert artifact_path(
        "shingle_capped", sf_dir, "documents", params="n3c3"
    ) != artifact_path("shingle_capped", sf_dir, "documents", params="n3c100")


def test_shingle_postings_artifact_matches_live_grouping(spark, sf_dir):
    """Round-8: the JOIN-READY posting-list artifact (the exact tier's
    query-time source) must hold exactly the grouped form of the capped
    stream — one row per shingle, ds sorted by doc_id (the d1 < d2
    combination invariant downstream relies on), bounded by the cap —
    and live under its own params-keyed artifact kind."""
    from pyspark.sql import functions as F

    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_path
    from kafka_connect_storage_cloud_formats_spark.operators.shingles import (
        ensure_capped_shingle_rows,
        ensure_shingle_postings,
    )

    cap = 3
    art = ensure_shingle_postings(spark, sf_dir, 3, cap)
    got = {r["s"]: [tuple(d) for d in r["ds"]] for r in art.collect()}
    live = (
        ensure_capped_shingle_rows(spark, sf_dir, 3, cap)
        .groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
    )
    want = {r["s"]: [tuple(d) for d in r["ds"]] for r in live.collect()}
    assert got == want and len(got) > 0
    for ds in got.values():
        assert len(ds) <= cap
        assert ds == sorted(ds), "ds must be doc_id-sorted at build time"
    assert artifact_path(
        "shingle_postings", sf_dir, "documents", params="n3c3"
    ) != artifact_path("shingle_capped", sf_dir, "documents", params="n3c3")


def test_ngram_occurrence_artifact_is_multiset_and_distinct_kind(spark, sf_dir):
    """The occurrence stream (bigram novelty's source) keeps DUPLICATE
    n-grams — multiset semantics, unlike the set-semantics shingle
    stream — and lives under its own artifact kind so the two can never
    share a cache path."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_path
    from kafka_connect_storage_cloud_formats_spark.catalog import load_table
    from kafka_connect_storage_cloud_formats_spark.operators.shingles import (
        ensure_ngram_occurrence_rows,
        ngram_occurrence_stream,
    )

    assert artifact_path("ngram_occ", sf_dir, "documents", params="n2") != artifact_path(
        "shingle_rows", sf_dir, "documents", params="n2"
    )
    art = ensure_ngram_occurrence_rows(spark, sf_dir, 2)
    got = sorted(tuple(r) for r in art.collect())
    want = sorted(
        tuple(r)
        for r in ngram_occurrence_stream(load_table(spark, sf_dir, "documents"), 2).collect()
    )
    assert got == want
    # multiset: a doc with a repeated bigram contributes one row per
    # occurrence (synthetic check, engine-level)
    docs = spark.createDataFrame([(1, "a b a b a")], "doc_id long, text string")
    rows = ngram_occurrence_stream(docs, 2).collect()
    assert len(rows) == 4  # 'a b','b a','a b','b a' — duplicates kept
    assert sorted(r["ng"] for r in rows) == ["a b", "a b", "b a", "b a"]


def test_simhash_packed_votes_match_python_reference(spark):
    """Bit-for-bit equivalence of the packed-vote SQL-string SimHash
    against an independent plain-Python implementation — guards the lane
    packing, shift/mask expressions, and the per-occurrence (weight-1)
    vote refactor on docs the corpus never exercises (heavy repetition,
    single tokens, vote ties)."""
    import hashlib
    import random

    from kafka_connect_storage_cloud_formats_spark.operators.dedup import _simhash_fp_from

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    texts = [
        "solo",
        "dup dup dup dup",          # one token, all votes unanimous
        "a b a b",                  # 2-2 vote ties per differing bit
        *(
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60)))
            for _ in range(20)
        ),
    ]

    def py_simhash(text):
        counts = {}
        for t in text.split(" "):
            counts[t] = counts.get(t, 0) + 1
        total = sum(counts.values())
        out = {}
        for half, start in (("hi", 0), ("lo", 8)):
            word = 0
            for b in range(32):
                vote = 0
                for t, c in counts.items():
                    v = int(hashlib.md5(t.encode()).hexdigest()[start : start + 8], 16)
                    vote += c * ((v >> b) & 1)
                if 2 * vote > total:
                    word |= 1 << b
            out[half] = word
        return out["hi"], out["lo"]

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
        # the Python reference below is the md5 family — pin it regardless
        # of an ambient SPARK_GRAFT_HASH_FAMILY (the suite must be green
        # under either family setting)
        for r in _simhash_fp_from(docs, family="md5").collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_simhash(t), f"doc {i}: {t!r}"


def _sig_inputs():
    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(12)]
    return [
        "a b c",                    # exactly one shingle
        "x y x y x y x y",          # repeated shingles (distinct-ness matters)
        *(
            " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40)))
            for _ in range(15)
        ),
        None,                       # NULL text: no signature row
        "",                         # fewer than 3 tokens: no signature row
        "too short",
    ]


def _sigs_by_reduction(docs, family, reduction):
    """{doc_id: signature} from the aggregate (corpus-path) or the array
    (micro-batch) MinHash reduction; a doc without a signature has no key."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        MINHASH_K,
        _minhash_sigs_from,
        _with_minhash_array,
    )

    if reduction == "aggregate":
        sigs = _minhash_sigs_from(docs, family=family)
    else:
        sigs = _with_minhash_array(docs, family=family).filter(
            F.col("mh_00").isNotNull()
        )
    return {
        r["doc_id"]: tuple(r[f"mh_{k:02d}"] for k in range(MINHASH_K))
        for r in sigs.collect()
    }


def test_minhash_signatures_match_python_reference(spark):
    """Both MinHash reductions — the shuffle aggregate of the corpus paths
    and the per-row array form of the streaming micro-batch — against an
    independent Python implementation of the md5 family (h{g} =
    md5('g:'||shingle); component k = MIN over distinct shingles of
    8-hex-char chunk k%4 of h{k//4}). Guards the group/chunk indexing both
    forms take from ``_minhash_layout``, the distinct-shingle semantics, and
    the no-signature rule for NULL and sub-3-token docs."""
    import hashlib

    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        MINHASH_CHUNKS_PER_MD5,
        MINHASH_K,
        SHINGLE_N,
    )

    texts = _sig_inputs()

    def py_sigs(text):
        w = text.split(" ")
        shingles = {" ".join(w[i : i + SHINGLE_N]) for i in range(len(w) - SHINGLE_N + 1)}
        if not shingles:
            return None
        sig = []
        for k in range(MINHASH_K):
            g, chunk = k // MINHASH_CHUNKS_PER_MD5, k % MINHASH_CHUNKS_PER_MD5
            sig.append(
                min(
                    hashlib.md5(f"{g}:{s}".encode()).hexdigest()[chunk * 8 : chunk * 8 + 8]
                    for s in shingles
                )
            )
        return tuple(sig)

    expected = {
        i: sig
        for i, t in enumerate(texts)
        if t is not None and (sig := py_sigs(t)) is not None
    }
    assert len(expected) == len(texts) - 3
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for reduction in ("aggregate", "array"):
        # md5-family Python reference — pin the family against an ambient
        # SPARK_GRAFT_HASH_FAMILY setting
        assert _sigs_by_reduction(docs, "md5", reduction) == expected, reduction


def test_minhash_reductions_agree_under_xxhash64(spark):
    """Under the production family there is no Python reference; the two
    reductions must produce the same signature rows (and the same missing
    rows for NULL and sub-3-token docs)."""
    texts = _sig_inputs()
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    agg = _sigs_by_reduction(docs, "xxhash64", "aggregate")
    assert len(agg) == len(texts) - 3
    assert _sigs_by_reduction(docs, "xxhash64", "array") == agg


# --------------------------------------------------------------- hash family
def _family_partition(spark, docs, family):
    """doc_id partition into near-dup clusters under a hash family:
    signatures → banded LSH pairs → strong edges → union-find labels."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        CLUSTER_MIN_EST_JACCARD,
        _minhash_sigs_from,
        _pairs_from_sigs,
        union_find_min_labels,
    )

    sigs = _minhash_sigs_from(docs, family=family)
    pairs = _pairs_from_sigs(sigs, family=family).filter(
        F.col("est_jaccard") >= CLUSTER_MIN_EST_JACCARD
    )
    labels = union_find_min_labels(
        (r["d1"], r["d2"]) for r in pairs.collect()
    )
    all_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    full = {i: labels.get(i, i) for i in all_ids}
    clusters = {}
    for doc, lbl in full.items():
        clusters.setdefault(lbl, set()).add(doc)
    return {frozenset(v) for v in clusters.values()}


def test_hash_families_agree_on_dedup_decisions(spark):
    """Round-6 verdict ask #4: the md5 (oracle-reproducible, default) and
    xxhash64 (production) hash families must produce IDENTICAL dedup
    decisions — the same partition of documents into near-dup clusters —
    on a fixture of clear near-dup groups and clear non-duplicates. The
    md5 gate certifies correctness; this pins that flipping the family
    flag changes only the hash arithmetic, not what gets deduplicated."""
    words = [f"tok{i}" for i in range(40)]
    rows = []
    expected = []
    # 4 near-dup groups of 3: one token substituted per variant (shingle
    # Jaccard ~0.85 — far above the 0.5 decision threshold)
    for g in range(4):
        group = []
        base = [f"g{g}w{i}" for i in range(40)]
        for v in range(3):
            toks = list(base)
            if v:
                toks[10 * v] = f"g{g}var{v}"
            doc_id = g * 10 + v
            rows.append((doc_id, " ".join(toks)))
            group.append(doc_id)
        expected.append(frozenset(group))
    # 5 singletons with disjoint vocabularies (Jaccard 0 to everything)
    for s in range(5):
        doc_id = 100 + s
        rows.append((doc_id, " ".join(f"s{s}u{i}" for i in range(40))))
        expected.append(frozenset([doc_id]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    part_md5 = _family_partition(spark, docs, "md5")
    part_xx = _family_partition(spark, docs, "xxhash64")
    assert part_md5 == set(expected)
    assert part_xx == part_md5, "families must agree up to relabeling"
    assert len(words) == 40  # fixture invariant


def test_split_family_xxhash64_deterministic_and_balanced(spark, sf_dir, monkeypatch):
    """The xxhash64 split family must be deterministic (two runs identical)
    and near the 90/5/5 design fractions; the flag is read per call, so
    unsetting it restores the oracle-gated md5 assignment."""
    from kafka_connect_storage_cloud_formats_spark.functions.text_functions import (
        HASH_FAMILY_ENV,
    )
    from kafka_connect_storage_cloud_formats_spark.operators.profiling import (
        corpus_split_stats,
    )

    # start from the md5 default even when the suite itself runs under an
    # ambient SPARK_GRAFT_HASH_FAMILY (the final assertion compares the
    # unset-env assignment against this baseline)
    monkeypatch.delenv(HASH_FAMILY_ENV, raising=False)
    baseline = corpus_split_stats(spark, sf_dir).collect()
    monkeypatch.setenv(HASH_FAMILY_ENV, "xxhash64")
    r1 = corpus_split_stats(spark, sf_dir).collect()
    r2 = corpus_split_stats(spark, sf_dir).collect()
    assert r1 == r2, "xxhash64 split must be deterministic"
    n = {row["split"]: row["n_docs"] for row in r1}
    total = sum(n.values())
    assert abs(n.get("train", 0) / total - 230 / 256) < 0.08
    monkeypatch.delenv(HASH_FAMILY_ENV)
    assert corpus_split_stats(spark, sf_dir).collect() == baseline


def test_simhash_fp_artifact_matches_live_derivation(spark, sf_dir):
    """Round-7: the materialized simhash fingerprint artifact must hold
    exactly the rows the in-session derivation produces (longs — parquet
    roundtrip exact), publish at the params-keyed path, and not rebuild
    on a second consumer call."""
    import os

    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_path
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        SIMHASH_BITS,
        SIMHASH_LANE_BITS,
        _ensure_simhash_fps,
        _simhash_fp_table,
    )

    path = artifact_path(
        "simhash_fp", sf_dir, "documents",
        params=f"b{SIMHASH_BITS}l{SIMHASH_LANE_BITS}",
    )
    art = _ensure_simhash_fps(spark, sf_dir)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    stamp = os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns
    _ensure_simhash_fps(spark, sf_dir)  # second consumer: cache hit
    assert os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns == stamp
    got = {tuple(r) for r in art.collect()}
    want = {tuple(r) for r in _simhash_fp_table(spark, sf_dir).collect()}
    assert got == want


def test_xxhash64_family_runs_registered_dedup_chain(spark, sf_dir, monkeypatch):
    """The production hash family must run the REGISTERED dedup chain end
    to end (signature artifact build → LSH pairs → clustering → composed
    training stats) without touching the md5 artifacts: family-keyed
    cache paths, long-typed signatures, xxhash64 band hashes. Values are
    not oracle-compared (DuckDB has no xxhash64) — decision equality is
    pinned separately on a fixture; this pins the operational path."""
    from kafka_connect_storage_cloud_formats_spark.functions.text_functions import (
        HASH_FAMILY_ENV,
    )
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        neardup_clusters,
    )
    from kafka_connect_storage_cloud_formats_spark.operators.training_pipeline import (
        training_corpus_stats,
    )

    docs_n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    monkeypatch.setenv(HASH_FAMILY_ENV, "xxhash64")
    sigs = minhash_signatures(spark, sf_dir)
    assert sigs.count() > 0
    assert dict(sigs.dtypes)["mh_00"] == "bigint"  # long components
    pairs = minhash_lsh_pairs(spark, sf_dir)
    assert pairs.filter("est_jaccard < 0 OR est_jaccard > 1").count() == 0
    clusters = neardup_clusters(spark, sf_dir)
    assert clusters.count() == docs_n  # every doc labeled
    stats = training_corpus_stats(spark, sf_dir)
    assert stats.count() > 0
    # round 8: the remaining decision-hash sites follow the same flag —
    # simhash fingerprints/near-pairs (family-keyed artifact) and the
    # canonical tier (stringified xxhash64 equality key)
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        dedup_canonical,
        simhash_near_pairs,
    )

    sp = simhash_near_pairs(spark, sf_dir)
    assert sp.filter(f"hamming > {SIMHASH_MAX_HAMMING}").count() == 0
    canon = dedup_canonical(spark, sf_dir)
    assert canon.count() > 0
    assert dict(canon.dtypes)["canon_hash"] == "string"


def test_simhash_family_agrees_on_near_pair_decisions(spark):
    """Round-7 verdict ask #5 (simhash site): md5 and xxhash64 vote-bit
    sources must produce the same near-pair DECISIONS on a fixture of
    exact duplicates (Hamming 0 under ANY family) and disjoint-vocabulary
    documents (Hamming ≈ 32 — far beyond the ≤3 threshold under both
    families). The md5 oracle gate certifies fingerprint values; this pins
    that the family flag changes only where the vote bits come from."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        _simhash_fp_from,
    )

    rows = []
    # 3 exact-duplicate pairs + 6 disjoint singletons
    for g in range(3):
        text = " ".join(f"g{g}tok{i}" for i in range(50))
        rows.append((g * 10, text))
        rows.append((g * 10 + 1, text))
    for s in range(6):
        rows.append((100 + s, " ".join(f"s{s}u{i}" for i in range(50))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def near_pairs(family):
        fps = {
            r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
            for r in _simhash_fp_from(docs, family=family).collect()
        }
        ids = sorted(fps)
        return {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1:]
            if bin(fps[a][0] ^ fps[b][0]).count("1")
            + bin(fps[a][1] ^ fps[b][1]).count("1")
            <= SIMHASH_MAX_HAMMING
        }

    expected = {(0, 1), (10, 11), (20, 21)}
    assert near_pairs("md5") == expected
    assert near_pairs("xxhash64") == expected


def test_canonical_family_agrees_on_groups(spark, tmp_path):
    """Round-7 verdict ask #5 (canonical site): the canon hash is a pure
    equality key, so md5 and xxhash64 must produce IDENTICAL groups
    (keep_doc_id, n_docs, n_raw_variants) — only the canon_hash column's
    representation differs (which is why the oracle gate runs under
    md5)."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import dedup_canonical

    rows = [
        (1, "Hello, World!"),
        (2, "hello world"),           # same canonical form as 1
        (3, "HELLO   WORLD?!"),       # same canonical form as 1
        (4, "a different document"),
        (5, "A Different Document."),  # same canonical form as 4
        (6, "entirely unrelated text"),
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )

    def groups(family):
        return {
            (r["keep_doc_id"], r["n_docs"], r["n_raw_variants"])
            for r in dedup_canonical(spark, sf, family=family).collect()
        }

    expected = {(1, 3, 3), (4, 2, 2), (6, 1, 1)}
    assert groups("md5") == expected
    assert groups("xxhash64") == expected


def test_neardup_label_artifact_matches_live_clustering(spark, sf_dir):
    """Round-8: the content-keyed cluster-label artifact
    (ensure_neardup_labels — consumed by training_corpus_stats) must hold
    exactly the (doc_id, cluster_id) rows the live clustering
    (_neardup_labels, the registered neardup_clusters path) produces, and
    a second consumer call must serve the published artifact instead of
    rebuilding (longs — parquet roundtrip exact)."""
    import os

    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        _neardup_labels,
        ensure_neardup_labels,
        neardup_labels_path,
    )

    # Path derivation lives in ONE place (neardup_labels_path) — a
    # hand-copied token here drifted once already when the production
    # token gained the band layout.
    path = neardup_labels_path(spark, sf_dir)
    art = ensure_neardup_labels(spark, sf_dir)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    stamp = os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns
    ensure_neardup_labels(spark, sf_dir)  # second consumer: cache hit
    assert os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns == stamp
    got = {tuple(r) for r in art.collect()}
    want = {tuple(r) for r in _neardup_labels(spark, sf_dir).collect()}
    assert got == want
    # every document is labeled exactly once
    assert len(got) == spark.read.parquet(f"{sf_dir}/documents.parquet").count()


def test_simhash_two_stage_blocking_result_identical(spark, sf_dir):
    """The second pigeonhole stage (12-bit complement sub-blocks, round-8
    verdict ask #5) changes CANDIDATE GENERATION only: the surviving pair
    set must be bit-identical to the single-stage plan's (both are
    supersets of the true Hamming<=3 pairs; the final filter decides).
    Also asserts the stage actually prunes: the two-stage candidate set
    must not exceed the single-stage one."""
    from pyspark.sql import functions as F

    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        _ensure_simhash_fps,
        _simhash_candidate_keys,
    )

    fp = _ensure_simhash_fps(spark, sf_dir)
    out, cands = {}, {}
    for two in (False, True):
        keys = _simhash_candidate_keys(fp, two_stage=two)
        a, b = keys.alias("a"), keys.alias("b")
        cond = (
            (F.col("a.key_id") == F.col("b.key_id"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.sub_val") == F.col("b.sub_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        pair = a.join(b, cond).select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        cands[two] = pair.distinct().count()
        hamming = F.bit_count(
            F.col("a.simhash_hi").bitwiseXOR(F.col("b.simhash_hi"))
        ) + F.bit_count(F.col("a.simhash_lo").bitwiseXOR(F.col("b.simhash_lo")))
        res = (
            a.join(b, cond)
            .select(
                F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"),
                hamming.alias("hamming"),
            )
            .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
            .distinct()
        )
        out[two] = sorted(map(tuple, res.collect()))
    assert out[True] == out[False]
    assert cands[True] <= cands[False]


def test_dedup_incremental_semantics(spark, tmp_path):
    """Incremental dedup on a crafted split: a batch doc whose content the
    corpus already has is dropped; within-batch duplicates collapse to one
    kept copy; fresh content survives — counted per language."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        dedup_incremental,
    )

    rows = [
        # corpus side (doc_id % 5 != 4)
        (0, "shared-a", "en"),
        (1, "corpus-only", "en"),
        # batch side (doc_id % 5 == 4)
        (4, "shared-a", "en"),        # corpus already has it → dropped
        (9, "batch-fresh", "en"),     # kept (smallest id of its content)
        (14, "batch-fresh", "en"),    # within-batch duplicate → dropped
        (19, "batch-fresh-fr", "fr"),  # kept
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    out = {
        r["lang"]: (r["n_batch"], r["n_kept"], r["n_dropped"])
        for r in dedup_incremental(spark, sf).collect()
    }
    assert out == {"en": (3, 1, 2), "fr": (1, 1, 0)}


def test_neardup_incremental_semantics(spark, tmp_path):
    """Incremental NEAR-dup on a crafted split: a batch doc whose text the
    corpus already has LSH-matches at est_jaccard 1.0 and is dropped
    against the corpus; a within-batch duplicate of a smaller-id batch doc
    is dropped by the greedy-by-id rule; fresh content survives. Exact
    duplicates make the fixture deterministic (every signature component
    matches); the distinct-text rows are deterministic too (fixed texts →
    fixed md5 chunks)."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        neardup_incremental,
    )

    rows = [
        # corpus side (doc_id % 5 != 4)
        (0, "alpha beta gamma delta words", "en"),
        (1, "completely different corpus sentence here", "en"),
        # batch side (doc_id % 5 == 4)
        (4, "alpha beta gamma delta words", "en"),  # corpus near-dup → dropped_corpus
        (9, "fresh unique batch content tokens", "en"),  # kept (smallest id)
        (14, "fresh unique batch content tokens", "en"),  # within-batch dup of 9 → dropped_within
        (19, "nouvelle phrase unique en lot", "fr"),  # kept
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    out = {
        r["lang"]: (
            r["n_batch"],
            r["n_dropped_corpus"],
            r["n_dropped_within"],
            r["n_kept"],
        )
        for r in neardup_incremental(spark, sf).collect()
    }
    assert out == {"en": (3, 1, 1, 1), "fr": (1, 0, 0, 1)}


def test_neardup_incremental_corpus_dup_excluded_from_within(spark, tmp_path):
    """A batch doc dropped against the corpus is counted ONLY as
    dropped_corpus even when it also near-dups a smaller batch doc (the
    report's categories are disjoint: corpus match wins)."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        neardup_incremental,
    )

    rows = [
        (0, "alpha beta gamma delta words", "en"),  # corpus
        (4, "alpha beta gamma delta words", "en"),  # batch: corpus dup (and dup of nothing smaller)
        (9, "alpha beta gamma delta words", "en"),  # batch: corpus dup AND dup of batch doc 4
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    [r] = neardup_incremental(spark, sf).collect()
    assert (r["n_batch"], r["n_dropped_corpus"], r["n_dropped_within"], r["n_kept"]) == (
        2, 2, 0, 0,
    )


def test_neardup_incremental_simhash_semantics(spark, tmp_path):
    """SimHash incremental tier on the same crafted split as the MinHash
    test: exact duplicates are Hamming 0 under every fingerprint family,
    so corpus-dup and within-batch classifications are deterministic;
    distinct texts land far beyond the ≤3 threshold."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        neardup_incremental_simhash,
    )

    rows = [
        (0, "alpha beta gamma delta words", "en"),
        (1, "completely different corpus sentence here", "en"),
        (4, "alpha beta gamma delta words", "en"),  # corpus dup → dropped_corpus
        (9, "fresh unique batch content tokens", "en"),  # kept
        (14, "fresh unique batch content tokens", "en"),  # dup of 9 → dropped_within
        (19, "nouvelle phrase unique en lot", "fr"),  # kept
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    out = {
        r["lang"]: (
            r["n_batch"],
            r["n_dropped_corpus"],
            r["n_dropped_within"],
            r["n_kept"],
        )
        for r in neardup_incremental_simhash(spark, sf).collect()
    }
    assert out == {"en": (3, 1, 1, 1), "fr": (1, 0, 0, 1)}


def test_neardup_incremental_dropped_doc_does_not_suppress_fresh(spark, tmp_path):
    """Round-11 review: within-batch suppression runs among corpus-
    SURVIVORS only. Batch doc A (id 4) is a strong near-dup of corpus doc
    C and is dropped vs the corpus; batch doc B (id 9) is a strong
    near-dup of A but NOT of C (near-dup similarity is not transitive) —
    B must be KEPT, not suppressed by the already-dropped A. Texts were
    searched offline against the md5 MinHash reference:
    est(A,C)=0.833, est(B,A)=0.500, est(B,C)=0.417 (< 0.5)."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        neardup_incremental,
    )

    C = "w10 w4 w12 w20 w1 w2 w26 w17 w3 w11 w18 w1 w29 w16 w6 w1 w2 w13 w13 w2 w7 w2 w17 w13"
    A = "w10 w15 w12 w20 w1 w2 w26 w17 w3 w11 w18 w1 w29 w16 w6 w1 w2 w13 w13 w2 w7 w2 w17 w13"
    B = "w10 w15 w12 w20 w1 w2 w26 w17 w3 w24 w18 w1 w7 w16 w6 w12 w2 w13 w13 w2 w7 w2 w17 w4"
    rows = [(0, C, "en"), (4, A, "en"), (9, B, "en")]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    [r] = neardup_incremental(spark, sf).collect()
    assert (r["n_batch"], r["n_dropped_corpus"], r["n_dropped_within"], r["n_kept"]) == (
        2, 1, 0, 1,
    )


def test_curation_chain_semantics(spark, tmp_path):
    """Chained disposition on a crafted split exercising every stage:
    exact duplicates die in the exact tier (and never reach the near-dup
    tier), true near-dups (superset texts: est_jaccard 0.75/0.83 with
    shared bands — deterministic under the md5 family) die in the
    near-dup tier, fresh content is kept."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        curation_drop_report,
    )

    rows = [
        # corpus side (doc_id % 5 != 4)
        (0, "alpha beta gamma delta epsilon zeta", "en"),
        (1, "completely different corpus sentence here", "en"),
        # batch side (doc_id % 5 == 4)
        (4, "alpha beta gamma delta epsilon zeta", "en"),        # exact_corpus
        (9, "alpha beta gamma delta epsilon zeta extra", "en"),  # neardup_corpus (est 0.75, 1 band)
        (14, "one two three four five six seven eight", "en"),   # kept (smallest of its pair)
        (19, "one two three four five six seven eight nine", "en"),  # neardup_within of 14 (est 0.83)
        (24, "fresh unique batch content tokens", "en"),         # kept
        (29, "fresh unique batch content tokens", "en"),         # exact_within (dup of 24)
        (34, "nouvelle phrase unique en lot", "fr"),             # kept
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    out = {r["lang"]: r.asDict() for r in curation_drop_report(spark, sf).collect()}
    assert out["en"] == {
        "lang": "en", "n_batch": 6,
        "n_exact_corpus": 1, "n_exact_within": 1,
        "n_neardup_corpus": 1, "n_neardup_within": 1,
        "n_kept": 2,
    }
    assert out["fr"] == {
        "lang": "fr", "n_batch": 1,
        "n_exact_corpus": 0, "n_exact_within": 0,
        "n_neardup_corpus": 0, "n_neardup_within": 0,
        "n_kept": 1,
    }


def test_curation_disposition_partitions_batch_and_reconciles_exact_tier(spark, sf_dir):
    """On the real corpus: every batch doc gets exactly one stage, the
    report's stage counts sum to n_batch, and the chain's exact tier
    reconciles with dedup_incremental's standalone report (same rules —
    one definition)."""
    from kafka_connect_storage_cloud_formats_spark.catalog import load_table
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        CURATION_STAGES,
        INCREMENT_MOD,
        _curation_disposition,
        curation_drop_report,
        dedup_incremental,
    )

    disp = _curation_disposition(spark, sf_dir)
    n_batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INCREMENT_MOD == INCREMENT_MOD - 1)
        .count()
    )
    assert disp.count() == n_batch
    assert {r["stage"] for r in disp.select("stage").distinct().collect()} <= set(
        CURATION_STAGES
    )
    rep = {r["lang"]: r.asDict() for r in curation_drop_report(spark, sf_dir).collect()}
    for r in rep.values():
        assert r["n_batch"] == sum(r[f"n_{s}"] for s in CURATION_STAGES)
    exact = {r["lang"]: r["n_dropped"] for r in dedup_incremental(spark, sf_dir).collect()}
    for lang, n_dropped in exact.items():
        assert rep[lang]["n_exact_corpus"] + rep[lang]["n_exact_within"] == n_dropped


def test_corpus_signature_merge_inventory_and_rerun(spark, tmp_path):
    """Accept-step end-to-end on a crafted split: the merged generation
    holds the corpus split's signatures plus exactly the kept batch docs'
    signatures, and RE-submitting the same drop against the merged
    generation (corpus_sigs hook) drops everything — an accepted drop
    contributes nothing the second time."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import published_df
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        corpus_signature_merge,
        ensure_merged_corpus_sigs,
        neardup_incremental,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en"),   # corpus
        (1, "completely different corpus sentence here", "en"),  # corpus
        (4, "alpha beta gamma delta epsilon zeta", "en"),   # exact_corpus → not merged
        (9, "fresh unique batch content tokens", "en"),     # kept → merged
        (14, "fresh unique batch content tokens", "en"),    # exact_within → not merged
        (19, "nouvelle phrase unique en lot", "fr"),        # kept → merged
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    inv = {r["origin"]: r.asDict() for r in corpus_signature_merge(spark, sf).collect()}
    assert inv["corpus"]["n_docs"] == 2 and inv["corpus"]["n_distinct_sigs"] == 2
    assert inv["batch"]["n_docs"] == 2 and inv["batch"]["n_distinct_sigs"] == 2
    assert inv["batch"]["min_doc_id"] == 9 and inv["batch"]["max_doc_id"] == 19
    # re-submit the same drop against the merged generation: every batch
    # doc now near-dups accepted corpus content → nothing kept
    merged = published_df(spark, ensure_merged_corpus_sigs(spark, sf))
    rerun = {
        r["lang"]: (r["n_batch"], r["n_dropped_corpus"], r["n_kept"])
        for r in neardup_incremental(spark, sf, corpus_sigs=merged).collect()
    }
    assert rerun == {"en": (3, 3, 0), "fr": (1, 1, 0)}


def test_corpus_signature_merge_kept_docs_dropped_on_rerun(spark, sf_dir):
    """Real-corpus guarantee of the accept step: every curation-KEPT batch
    doc that carries a signature is classified dropped-vs-corpus when the
    drop is re-evaluated against the merged generation (its own signature
    is in the corpus side now — est_jaccard 1 with itself)."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import published_df
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        _band_rows,
        _banded_drop_sets,
        _curation_disposition,
        _ensure_minhash_sigs,
        ensure_merged_corpus_sigs,
    )

    path = ensure_merged_corpus_sigs(spark, sf_dir, force=True)
    merged_bands = _band_rows(published_df(spark, path))
    batch_bands = _band_rows(_ensure_minhash_sigs(spark, sf_dir, split="batch"))
    vs_corpus, _ = _banded_drop_sets(batch_bands, merged_bands)
    kept_with_sig = (
        _curation_disposition(spark, sf_dir)
        .filter(F.col("stage") == "kept")
        .join(_ensure_minhash_sigs(spark, sf_dir, split="batch"), "doc_id", "left_semi")
        .select("doc_id")
    )
    assert kept_with_sig.join(vs_corpus, "doc_id", "left_anti").count() == 0


def test_corpus_fingerprint_merge_inventory_and_rerun(spark, tmp_path):
    """Fingerprint-family accept step on the crafted split: same ONE
    accept decision as the signature merge (the chained disposition), the
    merged table holds corpus + kept-doc fingerprints, and re-submitting
    the drop against the merged generation (corpus_fps hook) drops
    everything — Hamming 0 against its own accepted fingerprint."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import published_df
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        corpus_fingerprint_merge,
        ensure_merged_corpus_fps,
        neardup_incremental_simhash,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en"),
        (1, "completely different corpus sentence here", "en"),
        (4, "alpha beta gamma delta epsilon zeta", "en"),   # exact_corpus → not merged
        (9, "fresh unique batch content tokens", "en"),     # kept → merged
        (14, "fresh unique batch content tokens", "en"),    # exact_within → not merged
        (19, "nouvelle phrase unique en lot", "fr"),        # kept → merged
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    inv = {r["origin"]: r.asDict() for r in corpus_fingerprint_merge(spark, sf).collect()}
    assert inv["corpus"]["n_docs"] == 2 and inv["corpus"]["n_distinct_fps"] == 2
    assert inv["batch"]["n_docs"] == 2
    assert inv["batch"]["min_doc_id"] == 9 and inv["batch"]["max_doc_id"] == 19
    merged = published_df(spark, ensure_merged_corpus_fps(spark, sf))
    rerun = {
        r["lang"]: (r["n_batch"], r["n_dropped_corpus"], r["n_kept"])
        for r in neardup_incremental_simhash(spark, sf, corpus_fps=merged).collect()
    }
    assert rerun == {"en": (3, 3, 0), "fr": (1, 1, 0)}


def test_corpus_hash_merge_and_full_chain_rerun(spark, tmp_path):
    """All three accept steps + the chained rerun on the crafted split:
    the hash-family inventory reconciles (every kept doc has a hash, so
    'batch' rows == the kept set), and re-running the FULL curation chain
    against BOTH merged generations (corpus_hashes + corpus_sigs hooks)
    keeps NOTHING — each previously-kept doc is an exact dup of accepted
    corpus content, each previously-dropped doc reproduces its drop (the
    exact tier's collapse + the near-dup tier against merged signatures)."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import published_df
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        corpus_hash_merge,
        curation_drop_report,
        ensure_merged_corpus_hashes,
        ensure_merged_corpus_sigs,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en"),
        (1, "completely different corpus sentence here", "en"),
        (4, "alpha beta gamma delta epsilon zeta", "en"),        # exact_corpus
        (9, "alpha beta gamma delta epsilon zeta extra", "en"),  # neardup_corpus
        (14, "one two three four five six seven eight", "en"),   # kept
        (19, "one two three four five six seven eight nine", "en"),  # neardup_within
        (24, "fresh unique batch content tokens", "en"),         # kept
        (29, "fresh unique batch content tokens", "en"),         # exact_within
        (34, "nouvelle phrase unique en lot", "fr"),             # kept
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    inv = {r["origin"]: r.asDict() for r in corpus_hash_merge(spark, sf).collect()}
    assert inv["corpus"]["n_docs"] == 2 and inv["corpus"]["n_distinct_hashes"] == 2
    assert inv["batch"]["n_docs"] == 3  # the kept set: 14, 24, 34
    assert inv["batch"]["min_doc_id"] == 14 and inv["batch"]["max_doc_id"] == 34
    merged_h = published_df(spark, ensure_merged_corpus_hashes(spark, sf))
    merged_s = published_df(spark, ensure_merged_corpus_sigs(spark, sf))
    rerun = {
        r["lang"]: r.asDict()
        for r in curation_drop_report(
            spark, sf, corpus_hashes=merged_h, corpus_sigs=merged_s
        ).collect()
    }
    assert rerun["en"]["n_kept"] == 0 and rerun["fr"]["n_kept"] == 0
    # previously-kept docs are exact dups of accepted content now
    assert rerun["en"]["n_exact_corpus"] == 4  # 4, 14, 24, 29
    assert rerun["en"]["n_neardup_corpus"] == 2  # 9 (vs corpus 0), 19 (vs accepted 14)
    assert rerun["fr"]["n_exact_corpus"] == 1


def test_two_drop_lifecycle_via_merged_generations(spark, tmp_path):
    """The full recurring lifecycle across TWO drops: evaluate drop 1,
    merge its accepted docs into the corpus generations, then evaluate
    drop 2 AGAINST THE MERGED generations (the hooks). A drop-2 doc that
    duplicates a drop-1 KEPT doc must be dropped as corpus content (it
    was accepted — it IS the corpus now), a drop-2 doc duplicating a
    drop-1 REJECTED doc must survive the exact-vs-corpus tier (rejected
    content never entered the corpus) and die only by its own chain
    rules, and genuinely new content is kept."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import published_df
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        curation_drop_report,
        ensure_merged_corpus_hashes,
        ensure_merged_corpus_sigs,
    )

    corpus = [
        (0, "alpha beta gamma delta epsilon zeta", "en"),
        (1, "completely different corpus sentence here", "en"),
    ]
    # drop 1 (doc_id % 5 == 4 in corpus A)
    drop1 = [
        (4, "alpha beta gamma delta epsilon zeta", "en"),  # exact_corpus → rejected
        (9, "fresh unique batch content tokens", "en"),    # kept → accepted
    ]
    sf_a = str(tmp_path / "a")
    spark.createDataFrame(corpus + drop1, "doc_id long, text string, lang string").write.parquet(
        f"{sf_a}/documents.parquet"
    )
    merged_h = published_df(spark, ensure_merged_corpus_hashes(spark, sf_a))
    merged_s = published_df(spark, ensure_merged_corpus_sigs(spark, sf_a))
    # drop 2 (corpus B: same corpus rows, NEW batch rows — the next crawl)
    drop2 = [
        (14, "fresh unique batch content tokens", "en"),   # dup of drop-1 ACCEPTED 9 → exact_corpus
        (19, "alpha beta gamma delta epsilon zeta", "en"), # dup of drop-1 REJECTED 4 → still corpus dup (4's content = corpus doc 0)
        (24, "entirely novel second drop content", "en"),  # kept
        (29, "entirely novel second drop content", "en"),  # exact_within (dup of 24)
    ]
    sf_b = str(tmp_path / "b")
    spark.createDataFrame(corpus + drop2, "doc_id long, text string, lang string").write.parquet(
        f"{sf_b}/documents.parquet"
    )
    [rep] = curation_drop_report(
        spark, sf_b, corpus_hashes=merged_h, corpus_sigs=merged_s
    ).collect()
    # 14 and 19 die vs the merged corpus (one via drop-1's accept, one via
    # the original corpus); 29 collapses within; 24 survives
    assert (
        rep["n_batch"],
        rep["n_exact_corpus"],
        rep["n_exact_within"],
        rep["n_neardup_corpus"],
        rep["n_neardup_within"],
        rep["n_kept"],
    ) == (4, 2, 1, 0, 0, 1)


def test_content_hash_artifact_built_once_and_matches_derivation(spark, sf_dir):
    """The content-hash artifact (round 12) under the standard artifact
    contract: publishes at the params-keyed path, does NOT rebuild on a
    second consumer call, holds exactly the live sha2 derivation, and the
    batch split holds exactly the batch-filtered rows."""
    import os

    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_path
    from kafka_connect_storage_cloud_formats_spark.catalog import load_table
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        INCREMENT_MOD,
        ensure_content_hashes,
    )

    path = artifact_path("content_hashes", sf_dir, "documents", params="sha256")
    art = ensure_content_hashes(spark, sf_dir)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    stamp = os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns
    ensure_content_hashes(spark, sf_dir)  # second consumer: cache hit
    assert os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns == stamp
    docs = load_table(spark, sf_dir, "documents")
    live = docs.select(
        "doc_id", "lang", F.unhex(F.sha2(F.col("text"), 256)).alias("content_hash")
    )
    got = {(r["doc_id"], r["lang"], bytes(r["content_hash"])) for r in art.collect()}
    want = {(r["doc_id"], r["lang"], bytes(r["content_hash"])) for r in live.collect()}
    assert got == want
    batch = ensure_content_hashes(spark, sf_dir, split="batch")
    got_b = {r["doc_id"] for r in batch.collect()}
    want_b = {
        r["doc_id"]
        for r in docs.filter(
            F.col("doc_id") % INCREMENT_MOD == INCREMENT_MOD - 1
        ).collect()
    }
    assert got_b == want_b


def test_registered_second_drop_report_keeps_nothing(spark, tmp_path):
    """The registered curation_second_drop_report row (round 13): the
    chained report against the MERGED generations — with one batch split
    this is the resubmission lifecycle, and every previously-kept doc
    must now die as exact_corpus (it IS the corpus), every stage column
    still partitioning the batch. Pinned on the same fixture as the
    hook-level resubmission test so the two shapes can never drift."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        curation_drop_report,
        curation_second_drop_report,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en"),
        (1, "completely different corpus sentence here", "en"),
        (4, "alpha beta gamma delta epsilon zeta", "en"),        # exact_corpus
        (9, "alpha beta gamma delta epsilon zeta extra", "en"),  # neardup_corpus
        (14, "one two three four five six seven eight", "en"),   # kept
        (19, "one two three four five six seven eight nine", "en"),  # neardup_within
        (24, "fresh unique batch content tokens", "en"),         # kept
        (29, "fresh unique batch content tokens", "en"),         # exact_within
        (34, "nouvelle phrase unique en lot", "fr"),             # kept
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    second = {r["lang"]: r.asDict() for r in curation_second_drop_report(spark, sf).collect()}
    assert second["en"]["n_kept"] == 0 and second["fr"]["n_kept"] == 0
    # drop-1 keeps (14, 24, 34) are corpus content now → exact_corpus,
    # along with 4 (original corpus dup) and 29 (dup of accepted 24)
    assert second["en"]["n_exact_corpus"] == 4  # 4, 14, 24, 29
    assert second["fr"]["n_exact_corpus"] == 1  # 34
    assert second["en"]["n_neardup_corpus"] == 2  # 9 (vs corpus 0), 19 (vs accepted 14)
    # stages still partition the batch row-by-row
    first = {r["lang"]: r.asDict() for r in curation_drop_report(spark, sf).collect()}
    for rep in (first, second):
        for r in rep.values():
            assert r["n_batch"] == sum(
                r[f"n_{s}"]
                for s in (
                    "exact_corpus", "exact_within", "neardup_corpus",
                    "neardup_within", "kept",
                )
            )
    # and the batch totals agree between the two drops (same batch)
    for lang in first:
        assert first[lang]["n_batch"] == second[lang]["n_batch"]


def test_repeated_ngrams_hand_computed(spark, tmp_path):
    """dedup_repeated_ngrams (round 13 — the ExactSubstr mass signal) on a
    hand-computed corpus: doc 30 duplicates doc 10 exactly (all 3 of its
    8-grams duplicated), doc 20 shares exactly ONE 8-gram prefix with
    them, the short doc contributes no grams (and its language therefore
    no row). Occurrences, keys, docs and mass all pinned by hand."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        dedup_repeated_ngrams,
    )

    rows = [
        (10, "a b c d e f g h i j", "en"),   # grams: a..h, b..i, c..j
        (20, "a b c d e f g h x y", "en"),   # shares only a..h
        (30, "a b c d e f g h i j", "en"),   # exact dup of 10
        (40, "short text", "fr"),            # < 8 tokens: no grams
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    out = dedup_repeated_ngrams(spark, sf).collect()
    assert [r["lang"] for r in out] == ["en"]  # fr has no 8-grams
    r = out[0]
    # 3 grams per 10-token doc x 3 docs = 9 occurrences; duplicated keys:
    # a..h (docs 10,20,30), b..i and c..j (docs 10,30) = 3 keys; their
    # occurrences: 3 (doc 10) + 1 (doc 20) + 3 (doc 30) = 7
    assert (r["n_grams"], r["n_dup_grams"], r["n_dup_keys"], r["n_docs_with_dup"]) == (
        9, 7, 3, 3,
    )
    assert abs(r["dup_mass"] - 7 / 9) < 1e-15


def test_word_ngrams_preserves_occurrences(spark):
    """word_ngrams is the OCCURRENCE-level sibling of word_shingles:
    repeated grams keep one entry per start position, while the shingle
    view dedups them — on the same expression chain."""
    from kafka_connect_storage_cloud_formats_spark.functions.text_functions import (
        word_ngrams,
        word_shingles,
    )

    df = spark.createDataFrame([("a b a b a",)], "text string")
    [row] = df.select(
        word_ngrams("text", 2).alias("occ"), word_shingles("text", 2).alias("dst")
    ).collect()
    assert row["occ"] == ["a b", "b a", "a b", "b a"]
    assert row["dst"] == ["a b", "b a"]


def test_scrub_repeated_ngrams_hand_computed(spark, tmp_path):
    """scrub_repeated_ngrams + scrub_repeated_ngrams_text (round 13 — the
    rewrite step of substring-level dedup) on the same hand-computed
    corpus as the mass report: the stats row and the text rewriter must
    describe the same scrub (one _covered_positions definition), spans
    are removed from EVERY duplicated occurrence, the exact-duplicate
    pair empties entirely, and untouched docs come back byte-identical."""
    from kafka_connect_storage_cloud_formats_spark.catalog import load_table
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        scrub_repeated_ngrams,
        scrub_repeated_ngrams_text,
    )

    rows = [
        (10, "a b c d e f g h i j", "en"),   # grams a..h, b..i, c..j all dup'd (doc 30)
        (20, "a b c d e f g h x y", "en"),   # only a..h dup'd → x y survive
        (30, "a b c d e f g h i j", "en"),   # exact dup of 10 → emptied
        (40, "short text", "fr"),            # < 8 tokens → untouched
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    stats = {r["lang"]: r.asDict() for r in scrub_repeated_ngrams(spark, sf).collect()}
    # en: docs 10/30 fully covered (10 tokens each), doc 20 keeps x y
    assert stats["en"]["n_docs"] == 3
    assert stats["en"]["n_tokens"] == 30
    assert stats["en"]["n_tokens_kept"] == 2
    assert stats["en"]["n_docs_touched"] == 3
    assert stats["en"]["n_docs_emptied"] == 2
    assert abs(stats["en"]["kept_ratio"] - 2 / 30) < 1e-15
    # fr: no 8-grams → untouched
    assert stats["fr"]["n_docs"] == 1 and stats["fr"]["n_docs_touched"] == 0
    assert stats["fr"]["n_tokens"] == stats["fr"]["n_tokens_kept"] == 2
    # the rewriter emits exactly what the stats row priced
    texts = {
        r["doc_id"]: r["text"]
        for r in scrub_repeated_ngrams_text(
            load_table(spark, sf, "documents")
        ).collect()
    }
    assert texts == {10: "", 30: "", 20: "x y", 40: "short text"}


def test_repeated_ngram_spans_and_keep_first_hand_computed(spark, tmp_path):
    """Round 14 (Lee et al. 2022 parity asks): maximal duplicated-run
    spans via gaps-and-islands over _covered_positions, and the
    keep-one-copy scrub policy with the (min doc_id, min pos) canonical
    tie-break — on the same hand-computed corpus as the round-13 scrub
    test."""
    from kafka_connect_storage_cloud_formats_spark.catalog import load_table
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        repeated_ngram_spans,
        scrub_repeated_ngrams_text,
    )

    rows = [
        (10, "a b c d e f g h i j", "en"),   # all 3 grams dup'd with doc 30
        (20, "a b c d e f g h x y", "en"),   # only gram a..h dup'd
        (30, "a b c d e f g h i j", "en"),   # exact dup of 10
        (40, "short text", "fr"),            # < 8 tokens → no grams
    ]
    sf = str(tmp_path / "sf_spans")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    spans = {r["lang"]: r.asDict() for r in repeated_ngram_spans(spark, sf).collect()}
    # en: docs 10/30 one 10-token span each, doc 20 one 8-token span
    assert set(spans) == {"en"}  # fr has no spans → no row
    s = spans["en"]
    assert (
        s["n_spans"],
        s["n_docs_with_span"],
        s["span_tokens"],
        s["max_span_len"],
    ) == (3, 3, 28, 10)
    assert abs(s["avg_span_len"] - 28 / 3) < 1e-12
    # keep-one-copy: every dup gram's canonical occurrence is in doc 10,
    # so doc 10 survives whole, doc 30 empties, doc 20 keeps its tail
    texts = {
        r["doc_id"]: r["text"]
        for r in scrub_repeated_ngrams_text(
            load_table(spark, sf, "documents"), keep_first=True
        ).collect()
    }
    assert texts == {
        10: "a b c d e f g h i j",
        20: "x y",
        30: "",
        40: "short text",
    }


def test_scrub_keepfirst_report_hand_computed_and_oracle_pinned(spark, tmp_path):
    """Round 14: the keep-one-copy pricing row. On the hand corpus the
    canonical occurrences all live in doc 10, so it survives whole while
    the remove-all posture empties it — the delta the two registered
    rows exist to expose. Also pins the remove-all oracle string
    BYTE-IDENTICAL to its round-13 bytes (the _scrub_report_sql template
    refactor must never drift the r13-evidenced row's oracle)."""
    import hashlib

    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        SCRUB_REPEATED_NGRAMS_SQL,
        scrub_repeated_ngrams,
        scrub_repeated_ngrams_keepfirst,
    )

    assert (
        hashlib.sha256(SCRUB_REPEATED_NGRAMS_SQL.encode()).hexdigest()
        == "6814d839b79ec923d260efc6c342dd8f90af030ee6e20a7862107ecc542538e1"
    )
    rows = [
        (10, "a b c d e f g h i j", "en"),
        (20, "a b c d e f g h x y", "en"),
        (30, "a b c d e f g h i j", "en"),
        (40, "short text", "fr"),
    ]
    sf = str(tmp_path / "sf_kf")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    kf = {r["lang"]: r.asDict() for r in scrub_repeated_ngrams_keepfirst(spark, sf).collect()}
    # doc 10 canonical everywhere → keeps 10; doc 20 keeps x y; doc 30 empties
    assert (
        kf["en"]["n_tokens"],
        kf["en"]["n_tokens_kept"],
        kf["en"]["n_docs_touched"],
        kf["en"]["n_docs_emptied"],
    ) == (30, 12, 2, 1)
    assert kf["fr"]["n_tokens_kept"] == kf["fr"]["n_tokens"] == 2
    # and strictly more mass survives than under remove-all
    ra = {r["lang"]: r.asDict() for r in scrub_repeated_ngrams(spark, sf).collect()}
    assert kf["en"]["n_tokens_kept"] > ra["en"]["n_tokens_kept"] == 2


def test_repeated_ngram_families_agree(spark, tmp_path, sf_dir):
    """Round-13 verdict "What's wrong #3": the repeated-ngram chain's gram
    grouping key now honors SPARK_GRAFT_HASH_FAMILY like the minhash/split
    call sites (md5 hex default; a 128-bit xxhash64 struct pair in
    production). The key is pure EQUALITY, so the families' DECISIONS —
    duplicated-occurrence sets, covered-position sets, and the registered
    mass report's rows — must be identical (the oracle gate stays md5)."""
    from kafka_connect_storage_cloud_formats_spark.catalog import load_table
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        _covered_positions,
        dedup_repeated_ngrams,
    )

    rows = [
        (10, "a b c d e f g h i j", "en"),
        (20, "a b c d e f g h x y", "en"),
        (30, "a b c d e f g h i j", "en"),
        (40, "short text", "fr"),
    ]
    sf = str(tmp_path / "sf_fam")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    docs = load_table(spark, sf, "documents")
    covered = {
        fam: {
            (r["doc_id"], r["pos"])
            for r in _covered_positions(docs, 8, family=fam).collect()
        }
        for fam in ("md5", "xxhash64")
    }
    assert covered["md5"] == covered["xxhash64"] and covered["md5"]
    # and on the real driver corpus, the registered report's rows agree
    reports = {
        fam: sorted(map(tuple, dedup_repeated_ngrams(spark, sf_dir, family=fam).collect()))
        for fam in ("md5", "xxhash64")
    }
    assert reports["md5"] == reports["xxhash64"] and reports["md5"]


def test_scrub_text_null_propagates(spark):
    """Round-13 ADVICE: a NULL-text document must come back NULL from the
    rewriter, not '' — collapsing NULL to empty makes an absent document
    indistinguishable from a fully-scrubbed one (the module's standing
    NULL-propagation doctrine, same as word_ngrams)."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        scrub_repeated_ngrams_text,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, "a b c"), (3, "a b c")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["text"]
        for r in scrub_repeated_ngrams_text(docs, k=2).collect()
    }
    assert out[1] is None          # NULL in → NULL out
    assert out[2] == out[3] == ""  # fully-scrubbed duplicates → empty, NOT NULL
