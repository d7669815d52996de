"""Property-based tests (hypothesis) over the JVM-free core: schema
mapping round-trips, compatibility-mode algebra, parity file keys.

The reference has no property/randomized testing at all (SURVEY.md §5);
these pin the invariants that example-based tests can miss.
"""

import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from kafka_connect_storage_cloud_formats_spark.schema import (
    avro_schema_to_spark,
    spark_schema_to_avro,
)
from kafka_connect_storage_cloud_formats_spark.schema_evolution import (
    Compatibility,
    is_compatible,
)
from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import file_key_to_commit

SIX = [
    T.BooleanType(),
    T.IntegerType(),
    T.LongType(),
    T.FloatType(),
    T.DoubleType(),
    T.StringType(),
]

field_names = st.text(alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=12)

schemas = st.builds(
    lambda fields: T.StructType(
        [T.StructField(n, dt, nullable) for n, (dt, nullable) in fields.items()]
    ),
    st.dictionaries(
        field_names,
        st.tuples(st.sampled_from(SIX), st.booleans()),
        min_size=1,
        max_size=8,
    ),
)


@settings(max_examples=200, deadline=None)
@given(schemas)
def test_schema_roundtrip_identity(schema):
    """spark → avro → spark is the identity on the six-type surface."""
    assert avro_schema_to_spark(spark_schema_to_avro(schema)) == schema


@settings(max_examples=200, deadline=None)
@given(schemas)
def test_compatibility_reflexive(schema):
    for mode in Compatibility:
        assert is_compatible(schema, schema, mode)


@settings(max_examples=200, deadline=None)
@given(schemas, schemas)
def test_backward_forward_duality(a, b):
    """BACKWARD(a→b) ≡ FORWARD(b→a); FULL is their conjunction and is
    symmetric."""
    assert is_compatible(a, b, Compatibility.BACKWARD) == is_compatible(
        b, a, Compatibility.FORWARD
    )
    full_ab = is_compatible(a, b, Compatibility.FULL)
    assert full_ab == is_compatible(b, a, Compatibility.FULL)
    assert full_ab == (
        is_compatible(a, b, Compatibility.BACKWARD)
        and is_compatible(a, b, Compatibility.FORWARD)
    )


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abc-#_", min_size=1, max_size=20),
    st.integers(min_value=0, max_value=10_000),
    st.integers(min_value=0, max_value=10**12),
)
def test_file_key_shape(topic, partition, offset):
    """Parity keys: no '#', zero-padded ≥10-digit offset, parseable tail."""
    key = file_key_to_commit("topics", topic, topic, partition, offset)
    assert "#" not in key
    assert key.endswith(".orc")
    m = re.search(r"_(\d+)_(\d{10,})\.orc$", key)
    assert m and int(m.group(1)) == partition and int(m.group(2)) == offset


def test_single_branch_union_is_not_nullable():
    """A one-branch union like ["long"] is legal Avro and NON-nullable; it
    was reported nullable, which rewrote the schema contract on round-trip
    (["long"] -> ["null","long"]) and admitted nulls the writer forbids."""
    import pyspark.sql.types as T
    import pytest

    from kafka_connect_storage_cloud_formats_spark.schema import (
        UnsupportedTypeError,
        avro_field_type,
    )

    assert avro_field_type(["long"]) == (T.LongType(), False)
    assert avro_field_type(["null", "long"]) == (T.LongType(), True)
    assert avro_field_type(["long", "null"]) == (T.LongType(), True)
    with pytest.raises(UnsupportedTypeError):
        avro_field_type(["null", "null", "long"])
    with pytest.raises(UnsupportedTypeError):
        avro_field_type(["long", "int"])


# ------------------------------------------------------- union-find (CC core)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_union_find_min_labels_match_bruteforce_reachability(edges):
    """The driver-side CC core must label every vertex with the MINIMUM
    vertex reachable through the undirected edge set — checked against a
    brute-force transitive closure on random graphs (self-loops,
    duplicates, and disconnected vertices included)."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import union_find_min_labels

    got = union_find_min_labels(edges)
    verts = {v for e in edges for v in e}
    assert set(got) == verts
    # brute force: repeatedly expand neighbor sets to a fixpoint
    reach = {v: {v} for v in verts}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            merged = reach[a] | reach[b]
            for v in list(merged):
                if merged - reach[v]:
                    reach[v] |= merged
                    changed = True
    for v in verts:
        assert got[v] == min(reach[v]), (v, got[v], sorted(reach[v]))


# --------------------------------------------------------------- shingling
# The word-shingle expression underpins five registered query families
# (Jaccard, contamination, MinHash signatures/pairs, clustering); pin it
# against a plain-Python reference over adversarial corpora — empty docs,
# sub-n docs, repeated tokens, empty tokens from double spaces, NULLs.
def _py_shingles(text, n):
    if text is None:
        return None
    w = text.split(" ")  # Spark split keeps empty strings — so does str.split(sep)
    if len(w) < n:
        return []
    seen, out = set(), []
    for i in range(len(w) - n + 1):
        s = " ".join(w[i : i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


_tok = st.sampled_from(["a", "bb", "ccc", "a", ""])  # tiny vocab → collisions
_doc = st.one_of(
    st.none(),
    st.lists(_tok, min_size=0, max_size=12).map(lambda ws: " ".join(ws)),
)


@settings(max_examples=12, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=24), st.integers(min_value=1, max_value=4))
def test_word_shingles_match_python_reference(spark, docs, n):
    from kafka_connect_storage_cloud_formats_spark.functions.text_functions import (
        word_shingles,
    )

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", word_shingles("text", n).alias("sh")).collect()
    }
    for i, d in rows:
        assert got[i] == _py_shingles(d, n), (d, n, got[i])


# ------------------------------------------------------------ artifact naming
# The sweep's ability to retire stale generations rests on ONE syntactic
# invariant: every basename artifact_path produces (plus the suffixes
# callers append, e.g. the IVF index's "_centroids") must parse under
# artifacts._ARTIFACT_RE into (prefix, fingerprint, suffix) EXACTLY — a
# format drift that breaks the parse doesn't fail any query, it silently
# stops generation retirement and unbounds the cache footprint. Pin the
# parse over the full constructor alphabet. The one contract on caller-
# appended suffixes: no underscore-delimited SEGMENT of a suffix may be
# exactly 12 hex chars — such a segment is indistinguishable from a
# fingerprint, and the greedy prefix would swallow the real fingerprint
# and misparse (all real suffixes satisfy this — "_centroids").
_kind = st.text(alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=20)
_params = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=0, max_size=16
)
# sf_dir basenames: anything a directory is named short of a path separator
_base = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789.-_",
    min_size=1,
    max_size=16,
)
_hex6 = st.text(alphabet="0123456789abcdef", min_size=6, max_size=6)
_hex12 = st.text(alphabet="0123456789abcdef", min_size=12, max_size=12)
def _no_fp_like_segment(s: str) -> bool:
    return all(
        not (len(seg) == 12 and all(c in "0123456789abcdef" for c in seg))
        for seg in s.split("_")
    )


_suffix = st.one_of(
    st.just(""),
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789_", min_size=1, max_size=16
    )
    .filter(_no_fp_like_segment)
    .map(lambda s: "_" + s),
)


@settings(max_examples=300, deadline=None)
@given(_kind, _params, _base, _hex6, _hex12, _suffix)
def test_artifact_basename_parses_for_sweep(kind, params, base, phash, fp, suffix):
    from kafka_connect_storage_cloud_formats_spark.artifacts import _ARTIFACT_RE

    ptag = f"_{params}" if params else ""
    name = f"engine_{kind}{ptag}_{base}-{phash}_{fp}{suffix}"
    m = _ARTIFACT_RE.match(name)
    assert m, name
    pre, got_fp, got_suf = m.groups()
    assert got_fp == fp, name
    assert got_suf == suffix, name
    assert pre == f"engine_{kind}{ptag}_{base}-{phash}_", name
    # and the sweep's derived sibling matcher recognizes another
    # generation of the same family while never matching the live name
    # with a DIFFERENT family suffix
    sibling = re.compile(re.escape(pre) + r"([0-9a-f]{12})" + re.escape(got_suf) + "$")
    other_fp = ("0" * 12) if fp != "0" * 12 else ("1" * 12)
    assert sibling.fullmatch(f"{pre}{other_fp}{got_suf}").group(1) == other_fp


def test_fp_like_suffix_segment_would_misparse():
    """The negative space of the contract above: a suffix whose final
    underscore-segment IS 12 hex chars makes the greedy parse swallow the
    real fingerprint — demonstrating why callers must never append one.
    The codebase's one real suffix satisfies the contract."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import _ARTIFACT_RE

    assert _no_fp_like_segment("centroids")
    name = "engine_kind_sf0.1-abc123_" + "a" * 12 + "_" + "b" * 12
    m = _ARTIFACT_RE.match(name)
    assert m and m.group(2) == "b" * 12  # the SUFFIX segment won, not the fp


# ------------------------------------------------------- chained curation
# Full-chain randomized pin (round 12): the exact → near-dup disposition
# is re-implemented as a ~30-line plain-Python model (hashlib md5/sha256,
# set algebra) and compared doc-for-doc against the Spark chain on random
# tiny corpora — the kind of boundary soup (empty texts, shingle-less
# docs, exact dups straddling the batch split, borderline est_jaccard)
# that example-based fixtures under-sample.
import hashlib as _hl


def _py_minhash(text: str):
    ws = text.split(" ")
    sh = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)} if len(ws) >= 3 else set()
    if not sh:
        return None
    sig = []
    for k in range(12):
        g, c = k // 4, (k % 4) * 8
        sig.append(min(_hl.md5(f"{g}:{s}".encode()).hexdigest()[c : c + 8] for s in sh))
    return tuple(sig)


def _py_curation(rows):
    """rows: [(doc_id, text)] → {doc_id: stage} replaying the chain."""
    batch = {i for i, _ in rows if i % 5 == 4}
    texts = dict(rows)
    h = {i: _hl.sha256(t.encode()).hexdigest() for i, t in rows}
    corpus_h = {h[i] for i, _ in rows if i not in batch}
    exact_corpus = {b for b in batch if h[b] in corpus_h}
    fresh = batch - exact_corpus
    by_hash = {}
    for b in sorted(fresh):
        by_hash.setdefault(h[b], []).append(b)
    exact_within = {b for grp in by_hash.values() for b in grp[1:]}
    survivors = fresh - exact_within
    sig = {i: _py_minhash(t) for i, t in rows}

    def strong(a, b):
        sa, sb = sig[a], sig[b]
        if sa is None or sb is None:
            return False
        shared_band = any(sa[3 * x : 3 * x + 3] == sb[3 * x : 3 * x + 3] for x in range(4))
        est = sum(x == y for x, y in zip(sa, sb)) / 12
        return shared_band and est >= 0.5

    corpus_ids = [i for i, _ in rows if i not in batch]
    nd_corpus = {
        s for s in survivors if any(strong(s, c) for c in corpus_ids)
    }
    nd_fresh = sorted(survivors - nd_corpus)
    nd_within = {
        b for b in nd_fresh if any(strong(a, b) for a in nd_fresh if a < b)
    }
    out = {}
    for b in batch:
        out[b] = (
            "exact_corpus" if b in exact_corpus
            else "exact_within" if b in exact_within
            else "neardup_corpus" if b in nd_corpus
            else "neardup_within" if b in nd_within
            else "kept"
        )
    return out


_cur_word = st.sampled_from(["red", "blue", "green", "gold"])
_cur_doc = st.lists(_cur_word, min_size=0, max_size=6).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(st.lists(_cur_doc, min_size=6, max_size=18))
def test_curation_chain_matches_python_model(spark, docs):
    import tempfile

    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        _curation_disposition,
    )

    rows = [(i, d) for i, d in enumerate(docs)]
    if not any(i % 5 == 4 for i, _ in rows):
        return  # no batch side — the chain is vacuous
    sf = tempfile.mkdtemp(prefix="curprop_")
    spark.createDataFrame(
        [(i, d, "en") for i, d in rows], "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = {
        r["doc_id"]: r["stage"]
        for r in _curation_disposition(spark, sf).collect()
    }
    assert got == _py_curation(rows), (rows, got, _py_curation(rows))


# ------------------------------------------------- repeated-ngram mass (r13)
# dedup_repeated_ngrams' whole aggregate pipeline (occurrence-level grams →
# md5 keys → duplicated-key semi-join → per-language counts) checked against
# a plain-Python brute force over adversarial corpora: exact duplicate docs,
# single-gram overlaps, sub-k docs, repeated tokens, multiple languages.
def _py_repeated_ngrams(rows, k):
    from collections import defaultdict

    grams = []  # (doc_id, lang, gram) per START POSITION
    for doc_id, text, lang in rows:
        w = text.split(" ")
        for i in range(max(len(w) - k + 1, 0)):
            grams.append((doc_id, lang, " ".join(w[i : i + k])))
    docs_per = defaultdict(set)
    for d, _, g in grams:
        docs_per[g].add(d)
    dup = {g for g, s in docs_per.items() if len(s) >= 2}
    out = {}
    for lang in sorted({l for _, l, _ in grams}):
        mine = [(d, g) for d, l, g in grams if l == lang]
        dmine = [(d, g) for d, g in mine if g in dup]
        out[lang] = (
            len(mine),
            len(dmine),
            len({g for _, g in dmine}),
            len({d for d, _ in dmine}),
        )
    return out


_rtok = st.sampled_from(["x", "y", "zz", "x"])  # tiny vocab → heavy overlap
_rdoc = st.lists(_rtok, min_size=0, max_size=8).map(lambda ws: " ".join(ws))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(_rdoc, st.sampled_from(["en", "fr"])), min_size=1, max_size=10),
    st.integers(min_value=1, max_value=3),
)
def test_repeated_ngrams_match_python_reference(spark, tmp_path_factory, docs, k):
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        dedup_repeated_ngrams,
    )

    rows = [(i, t, l) for i, (t, l) in enumerate(docs)]
    sf = str(tmp_path_factory.mktemp("rng"))
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        f"{sf}/documents.parquet"
    )
    got = {
        r["lang"]: (
            r["n_grams"],
            r["n_dup_grams"],
            r["n_dup_keys"],
            r["n_docs_with_dup"],
        )
        for r in dedup_repeated_ngrams(spark, sf, k=k).collect()
    }
    assert got == _py_repeated_ngrams(rows, k), (rows, k)


# ------------------------------------------- keep-one-copy scrub (round 14)
# scrub_repeated_ngrams_text(keep_first=True) — Lee et al. 2022's
# keep-one-copy policy: each duplicated gram's canonical (min doc_id, min
# position) occurrence is exempt; a position survives unless some OTHER
# non-canonical duplicated occurrence covers it. Checked against a plain
# Python brute force of exactly that rule.
def _py_keep_first_scrub(rows, k):
    from collections import defaultdict

    occ = []  # (doc_id, start, gram)
    for doc_id, text in rows:
        w = text.split(" ")
        for i in range(max(len(w) - k + 1, 0)):
            occ.append((doc_id, i, " ".join(w[i : i + k])))
    docs_per = defaultdict(set)
    for d, _, g in occ:
        docs_per[g].add(d)
    dup = {g for g, s in docs_per.items() if len(s) >= 2}
    canon = {}
    for d, i, g in sorted(occ):  # first sight in (doc_id, pos) order = min
        if g in dup and g not in canon:
            canon[g] = (d, i)
    covered = defaultdict(set)
    for d, i, g in occ:
        if g in dup and canon[g] != (d, i):
            covered[d].update(range(i, i + k))
    return {
        doc_id: " ".join(
            t for j, t in enumerate(text.split(" ")) if j not in covered[doc_id]
        )
        for doc_id, text in rows
    }


@settings(max_examples=8, deadline=None)
@given(
    st.lists(_rdoc, min_size=1, max_size=8),
    st.integers(min_value=1, max_value=3),
)
def test_keep_first_scrub_matches_python_reference(spark, docs, k):
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        scrub_repeated_ngrams_text,
    )

    rows = [(i, t) for i, t in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in scrub_repeated_ngrams_text(sdf, k=k, keep_first=True).collect()
    }
    assert got == _py_keep_first_scrub(rows, k), (rows, k)
