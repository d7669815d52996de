"""Deduplication operators over the ``documents`` table.

The standard tiers of an LLM-data dedup pipeline, each designed for
100 TB and each with an exact DuckDB oracle:

- **exact** — hash-groupBy. The shuffle key is a 256-bit content hash, not
  the document text, so the shuffle moves ~32 B/row instead of the corpus.
- **canonicalizing** — same shape over a normalization of the text (case/
  punctuation/whitespace collapsed).
- **n-gram Jaccard** — exact set-similarity over DF-capped word shingles:
  pair generation from a join-ready posting-list artifact, shared-count
  aggregate, exact Jaccard. The MinHash-LSH tier below is the scale path;
  this exact tier is the verifier.
- **MinHash-LSH** — signatures of K min-hashes (md5-string hash family, so
  the oracle can recompute them bit-for-bit), banded into B buckets;
  candidate pairs share ≥1 band. Estimated Jaccard = matching-component
  fraction. The LSH join shuffles only (band_id, band_hash) keys.
- **SimHash** — 64-bit token-vote fingerprint carried as two 32-bit halves
  (signed-bigint-safe in both engines); near-dup pairs are fingerprints
  within Hamming distance ≤3. The self-join key is a TWO-LEVEL exact
  pigeonhole (4×16-bit blocks, then 4×12-bit complement sub-blocks per
  block choice — 16 composite keys/doc): distance ≤3 ⇒ some composite key
  shared (see ``_simhash_candidate_keys``).
- **fuzzy prefix** — capped Levenshtein blocks; **near-dup clustering +
  labels** — connected components over strong LSH pairs, artifact-served.

md5 is the only decision hash: both engines implement it identically, so
every stage is oracle-checkable. A cheaper 64-bit family would need a
workload that runs it and an oracle that can certify it (SCALE.md).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_connect_storage_cloud_formats_spark.catalog import load_table, spread
from kafka_connect_storage_cloud_formats_spark.functions.text_functions import (
    word_ngrams,
    word_shingles,
)
from kafka_connect_storage_cloud_formats_spark.operators.shingles import (
    ensure_shingle_postings,
    ensure_shingle_rows,
)

SHINGLE_N = 3
# Document-frequency cap for the exact-Jaccard tier: shingles appearing in
# more than this many documents (boilerplate) are dropped from the shingle
# universe before pairing, bounding per-shingle join fan-out to
# O(cap²) pairs — without it one hot shingle goes quadratic on a 100 TB
# corpus. Mass-duplicated texts above the cap are already collapsed by the
# exact tier (dedup_exact), which this tier runs after in the pipeline.
MAX_SHINGLE_DF = 100
MINHASH_K = 12  # 4 bands × 3 rows
LSH_BANDS = 4
LSH_ROWS = 3
JACCARD_THRESHOLD = 0.1
SIMHASH_BITS = 64  # carried as two 32-bit halves (hi/lo): signed-bigint-safe in both engines
SIMHASH_BLOCK_BITS = 16  # 4 pigeonhole blocks of 16 bits → 65536 bucket values per block
SIMHASH_MAX_HAMMING = 3


# ---------------------------------------------------------------- exact dedup
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text, keeping the
    smallest doc_id (deterministic winner) and the duplicate count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2(F.col("text"), 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_doc_id")
    )


DEDUP_EXACT_SQL = """
SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY sha256(text)
ORDER BY keep_doc_id
"""


# ------------------------------------------------------------ incremental dedup
# The modular split playing "published corpus" vs "new crawl batch" on the
# driver's single documents table: doc_id % INCREMENT_MOD == INCREMENT_MOD-1
# is the batch (~20%), the rest the corpus. A production caller passes its
# own two tables; the split is the oracle-reproducible demo harness.
INCREMENT_MOD = 5


def _in_batch() -> Column:
    """The increment split's predicate: true on the batch rows."""
    return F.col("doc_id") % INCREMENT_MOD == INCREMENT_MOD - 1


def _split(df: DataFrame, part: str | None) -> DataFrame:
    """``df`` restricted to one side of the increment split: ``"batch"``,
    ``"corpus"``, or every row for None."""
    if part is None:
        return df
    return df.filter(_in_batch() if part == "batch" else ~_in_batch())


def _split_params(split: str | None) -> str:
    """Params infix of a split-aware artifact: empty for the whole-corpus
    table, ``incr{INCREMENT_MOD}b`` for the batch split's own table."""
    if split not in (None, "batch"):
        raise ValueError(f"split must be None or 'batch', got {split!r}")
    return f"incr{INCREMENT_MOD}b" if split == "batch" else ""


def _exact_stage(in_corpus: Column) -> Column:
    """THE exact tier's decision as a column: ``'exact_corpus'`` where
    ``in_corpus``; else ``'exact_within'`` where a smaller batch doc_id
    shares the content_hash (the min-id representative survives); else
    NULL. Docs that share a hash share ``in_corpus``, so the window may
    run over the whole batch."""
    min_id = F.min("doc_id").over(Window.partitionBy("content_hash"))
    return F.when(in_corpus, "exact_corpus").when(
        F.col("doc_id") != min_id, "exact_within"
    )


def _exact_flags(batch: DataFrame, base_hashes: DataFrame) -> DataFrame:
    """THE incremental exact-dedup drop rule of :func:`dedup_incremental`,
    as a flag column: ``batch``'s rows (doc_id, content_hash, …) plus
    ``exact``, the :func:`_exact_stage` of membership in the corpus hash
    set ``base_hashes`` (DISTINCT content_hash rows). One left join to the
    corpus hashes plus one per-hash window over the batch; the chained
    curation rule (:func:`_judge`, :func:`_staged`) shares the min-id
    rule through :func:`_exact_stage`."""
    in_corpus = base_hashes.select("content_hash", F.lit(True).alias("__in_corpus"))
    return batch.join(in_corpus, "content_hash", "left").select(
        *batch.columns, _exact_stage(F.col("__in_corpus")).alias("exact")
    )


def ensure_content_hashes(
    spark: SparkSession, sf_dir: str, split: str | None = None
) -> DataFrame:
    """Published content-hash table: (doc_id, lang, content_hash =
    unhex(sha2(text, 256))), about 50 B/doc, built once per corpus content
    and published atomically. The incremental exact tier reads hashes
    from it and never corpus text. Binary hashes roundtrip parquet
    exactly.

    ``split=None`` is the whole corpus; ``split="batch"`` is the per-drop
    batch table under its own params infix (:func:`_split_params`)."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_df, artifact_path

    path = artifact_path(
        "content_hashes",
        sf_dir,
        "documents",
        params="sha256" + _split_params(split),
        spark=spark,
    )
    docs = _split(load_table(spark, sf_dir, "documents"), split)

    def build(tmp: str) -> None:
        docs.select(
            "doc_id", "lang", F.unhex(F.sha2(F.col("text"), 256)).alias("content_hash")
        ).write.parquet(tmp)

    return artifact_df(path, build, spark)


def dedup_incremental(
    spark: SparkSession, sf_dir: str, corpus_hashes: DataFrame | None = None
) -> DataFrame:
    """Incremental exact dedup: the batch split is deduplicated against
    the corpus split and within itself by the :func:`_exact_flags` rule,
    and the result is the per-language report (n_batch, n_kept,
    n_dropped). No corpus text is read.

    Scale shape: both sides read published content-hash artifacts
    (:func:`ensure_content_hashes`); the corpus side is reduced to
    distinct 32-byte hashes before the join, and the within-batch
    collapse is a per-hash window over batch-sized data. The hash never
    reaches the output, so the oracle replays the rule over hex strings
    (unhex is injective: the same groups).

    ``corpus_hashes`` is the explicit corpus-side hook (pass the merged
    generation, ``published_df(spark, ensure_merged_corpus(...,
    "content_hashes"))``, so the next drop is judged against the corpus as
    accepted so far); no split filter is applied to an explicit table."""
    batch = ensure_content_hashes(spark, sf_dir, split="batch").select(
        "doc_id", "lang", "content_hash"
    )
    if corpus_hashes is None:
        corpus_hashes = _split(ensure_content_hashes(spark, sf_dir), "corpus")
    flagged = _exact_flags(batch, corpus_hashes.select("content_hash").distinct())
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.col("exact").isNull().cast("long")).alias("n_kept"),
        )
        .select(
            "lang", "n_batch", "n_kept", (F.col("n_batch") - F.col("n_kept")).alias("n_dropped")
        )
        .orderBy("lang")
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH batch AS (
  SELECT doc_id, lang, sha256(text) AS content_hash
  FROM documents WHERE doc_id % {INCREMENT_MOD} = {INCREMENT_MOD - 1}),
base_h AS (
  SELECT DISTINCT sha256(text) AS content_hash
  FROM documents WHERE doc_id % {INCREMENT_MOD} <> {INCREMENT_MOD - 1}),
fresh AS (
  SELECT b.* FROM batch b WHERE NOT EXISTS (
    SELECT 1 FROM base_h h WHERE h.content_hash = b.content_hash)),
kept AS (
  SELECT lang, COUNT(*) AS n_kept FROM (
    SELECT lang, ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
    FROM fresh) f WHERE rn = 1 GROUP BY lang),
tot AS (SELECT lang, COUNT(*) AS n_batch FROM batch GROUP BY lang)
SELECT t.lang, t.n_batch, CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       t.n_batch - CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped
FROM tot t LEFT JOIN kept k ON k.lang = t.lang
ORDER BY t.lang
"""


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalizing dedup tier (between exact and fuzzy): documents that
    collapse to the same canonical form — lowercased, punctuation stripped,
    whitespace squeezed — are one group. Catches trivial re-encodings
    (case, punctuation, spacing) that byte-exact hashing misses, at the
    same map+groupBy cost as dedup_exact: the shuffle carries the md5 of
    the canonical form (32 hex bytes, a 128-bit equality key), never the
    text. The variant count hashes the text (COUNT(DISTINCT md5(text)),
    mirrored by the oracle): a bare countDistinct("text") would ship every
    distinct document through the exchange — the exact corpus-sized
    shuffle this tier exists to avoid."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    # materialize the canonical string ONCE per row: codegen does not CSE
    # repeated identical calls, and the regex chain dominates this map
    keyed = docs.withColumn("__canon", canon).select(
        F.md5("__canon").alias("canon_hash"), "doc_id", "text"
    )
    return (
        keyed.groupBy("canon_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_raw_variants"),
        )
        .orderBy("keep_doc_id")
    )


DEDUP_CANONICAL_SQL = """
WITH c AS (
  SELECT doc_id, text,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS canon_hash
  FROM documents)
SELECT canon_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_raw_variants
FROM c GROUP BY canon_hash
ORDER BY keep_doc_id
"""


# ------------------------------------------------------- exact n-gram Jaccard
def _shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct rows — THE tokenize→shingle derivation
    (shingles.shingle_stream), projected to the two columns this tier
    needs. One definition: an inline copy here previously duplicated the
    spread+explode chain and could drift from the artifact builders
    (round-9 review)."""
    from kafka_connect_storage_cloud_formats_spark.operators.shingles import shingle_stream

    return shingle_stream(docs, SHINGLE_N).select("doc_id", "s")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard similarity self-join on word-3-gram shingle sets
    (J ≥ 0.1), over the DF-capped shingle universe: shingles with document
    frequency > MAX_SHINGLE_DF are excluded from both the pair generation
    and the per-doc set sizes, so the result is the exact Jaccard of the
    reduced (discriminative) shingle sets and the worst-case fan-out of the
    self-join is cap-bounded."""
    # The query consumes the JOIN-READY posting-list artifact: CAPPED,
    # size-annotated shingle rows (hot-set removal + per-doc size window —
    # memory-safety ordering documented in operators/shingles.py) grouped
    # per shingle into doc-id-sorted arrays of struct(doc_id, n_sh),
    # ≤ MAX_SHINGLE_DF entries ≈ 1.6 KB each — bounded only BECAUSE the
    # hot set was removed first; collect_list before the cap would buffer
    # a boilerplate shingle's entire posting list. Each derivation stage
    # is a content-keyed parquet artifact built once per corpus (raw
    # shingles → capped rows → postings), so query-time work starts at
    # the posting lists and pays only the honest per-query costs: the
    # combination explode, the length filter, the shared-count aggregate,
    # and the Jaccard projection. Exploding i<j combinations map-side is
    # equivalent to the string-keyed sort-merge self-join but with the
    # per-shingle grouping PREPAID in the artifact (round 8 — one full
    # corpus-scale shuffle removed from every execution; 0.75×/0.82×
    # two-direction A/B at sf0.1), no string re-comparison, and half the
    # pair stream (ordered pairs only — a join would emit then filter the
    # mirror image). The 8-byte n_sh rides every posting entry into the
    # pair stream, so the final projection joins NOTHING back. Unlike the
    # round-5 ``localCheckpoint`` (non-reliable executor blocks: an
    # executor loss after lineage truncation failed the job), a file
    # source recovers by ordinary task retry. array_sort ordered each ds
    # by doc_id (first struct field) at build time, giving d1 < d2 within
    # each combination for free.
    # spread: the posting-list artifact is a handful of parquet splits at
    # test SFs, so the combination explode + length filter + partial
    # count-agg — the whole per-query cost of this row — ran at the scan's
    # 4-task parallelism on a 32-core session (r15 optimization, guide
    # §2.5/§2.6: event-log profile showed 0.79 s of the row's 1.19 s in
    # that one under-parallel stage). Scale-guarded no-op: a 100 TB
    # posting table scans with orders of magnitude more splits than cores.
    lists = spread(ensure_shingle_postings(spark, sf_dir, SHINGLE_N, MAX_SHINGLE_DF))
    combos = F.expr(
        "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), "
        "y -> struct(x.doc_id AS d1, y.doc_id AS d2, x.n_sh AS n1, y.n_sh AS n2))))"
    )
    # Length filter (the classic set-similarity-join bound): shared ≤
    # min(n1,n2), so jaccard ≤ min/max — a pair with min/max below the
    # threshold can NEVER pass and is dropped MAP-SIDE, before the pair
    # shuffle. The DIVISION form is the provably conservative one under
    # floating point (round-7 ADVICE): rational J ≤ rational min/max, and
    # IEEE rounding is monotonic, so double(J) ≥ T ⇒ double(min/max) ≥ T —
    # every pair the downstream ``jaccard >= T`` filter keeps survives
    # this filter too. The previous multiplication form
    # ``greatest * T <= least`` broke at exact-boundary pairs: for
    # (n1, n2) = (10, 100), ``100 * 0.1`` evaluates to 10.000000000000002
    # > 10, dropping a pair whose J = 10/100 passes downstream — a false
    # negative vs the oracle (regression-pinned in tests/test_dedup.py).
    # On this corpus's uniform-length synthetic docs the filter removes
    # ~0.1 % (measured); on a real Zipfian-length corpus it prunes the
    # bulk of cross-length boilerplate pairs ahead of the aggregation.
    length_ok = F.expr(
        f"least(p.n1, p.n2) / greatest(p.n1, p.n2) >= {JACCARD_THRESHOLD}"
    )
    shared = (
        lists.select(F.explode(combos).alias("p"))
        .filter(length_ok)
        .groupBy(
            F.col("p.d1").alias("d1"),
            F.col("p.d2").alias("d2"),
            F.col("p.n1").alias("n1"),
            F.col("p.n2").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.select(
            "d1",
            "d2",
            (
                F.col("shared").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("d1", "d2")
    )


NGRAM_JACCARD_SQL = f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh_all AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id,
         array_to_string(list_slice(w, i, i + {SHINGLE_N - 1}), ' ') AS s
  FROM docs, unnest(range(1, greatest(len(w) - {SHINGLE_N - 1}, 0) + 1)) AS t(i)) q),
hot AS (SELECT s FROM sh_all GROUP BY s HAVING COUNT(*) > {MAX_SHINGLE_DF}),
sh AS (SELECT doc_id, s FROM sh_all WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT d1, d2, CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) AS jaccard
FROM pairs
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
"""


# ----------------------------------------------- repeated-substring mass
# Round 13: the EXACT-SUBSTRING duplication signal of Lee et al. 2022
# ("Deduplicating Training Data Makes Language Models Better", §3 ExactSubstr
# — public paper, PAPERS.md): a k-token run appearing in two or more
# documents is duplicated training text even when the documents as wholes
# are not near-duplicates (boilerplate headers, licence blocks, quoted
# passages). The document-level tiers above cannot see it; this operator
# measures it corpus-wide. K is the run length a deployment would tune
# (Lee et al. use 50 BPE tokens at web scale; 8 words fits the driver
# corpus' 30–200-word documents).
REPEAT_NGRAM_K = 8


def dedup_repeated_ngrams(
    spark: SparkSession,
    sf_dir: str,
    k: int = REPEAT_NGRAM_K,
) -> DataFrame:
    """Per-language repeated-k-gram mass report: (lang, n_grams,
    n_dup_grams, n_dup_keys, n_docs_with_dup, dup_mass) where a gram is
    one OCCURRENCE of a k-token run (one per start position —
    :func:`~.functions.text_functions.word_ngrams`, the occurrence-level
    sibling of the shingle chain's ``word_shingles``) and a gram is
    "duplicated" when its text occurs in ≥ 2 distinct documents.
    ``dup_mass`` = duplicated occurrences / all occurrences — the
    fraction of k-token training positions a substring-level dedup pass
    would rewrite, the corpus-health number the document-level tiers
    structurally cannot produce.

    Spark-first shape: the gram array is built map-only inside one
    codegen stage (``transform(sequence)·slice`` — no window, no per-doc
    shuffle), each occurrence is carried as its md5 hex key (the gram
    text itself never shuffles), and both aggregates are
    map-side-combinable groupBys — no per-key posting list is ever held
    (the hot-gram hazard the capped-shingle artifact documents).
    Single-consumer derivation, so it runs from text by design (artifact
    doctrine: only multi-consumer corpus-scale streams are persisted)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        spread(docs)
        .select(
            "doc_id", "lang", F.explode(word_ngrams("text", k)).alias("gram")
        )
        .select("doc_id", "lang", F.md5(F.col("gram")).alias("g"))
    )
    # "occurs in ≥2 distinct documents" ⇔ min(doc_id) ≠ max(doc_id): a
    # map-side-combinable aggregate, where countDistinct would add a full
    # exchange of the gram-key stream.
    dup_keys = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("d_min"), F.max("doc_id").alias("d_max"))
        .filter(F.col("d_min") != F.col("d_max"))
        .select("g")
    )
    dup_occ = grams.join(dup_keys, "g", "left_semi")
    total = grams.groupBy("lang").agg(F.count(F.lit(1)).alias("n_grams"))
    dupl = dup_occ.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.countDistinct("g").alias("n_dup_keys"),
        F.countDistinct("doc_id").alias("n_docs_with_dup"),
    )
    zero = F.lit(0).cast("long")
    return (
        total.join(dupl, "lang", "left")
        .select(
            "lang",
            "n_grams",
            F.coalesce("n_dup_grams", zero).alias("n_dup_grams"),
            F.coalesce("n_dup_keys", zero).alias("n_dup_keys"),
            F.coalesce("n_docs_with_dup", zero).alias("n_docs_with_dup"),
            (
                F.coalesce("n_dup_grams", zero).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("dup_mass"),
        )
        .orderBy("lang")
    )


def _covered_positions(
    docs: DataFrame,
    k: int,
    keep_first: bool = False,
) -> DataFrame:
    """(doc_id, pos) of every token position covered by a duplicated
    k-gram occurrence (0-based) — the span set the scrub removes. ONE
    definition shared by the registered stats row, the span report and
    the text rewriter. Linear shape: k covered rows exploded per
    duplicated occurrence, distinct'd on the (doc_id, pos) pair, grouped
    by the md5 of each gram.

    ``keep_first`` (Lee et al. 2022: keep ONE copy of each duplicated
    substring; the default removes every occurrence, the boilerplate-
    scrub posture) exempts each duplicated gram's canonical occurrence,
    the (min doc_id, then min start position) one, so its positions stay
    uncovered unless some OTHER gram's non-canonical occurrence overlaps
    them. It costs one more window aggregate and filter, no new shuffle."""
    grams = (
        spread(docs)
        .select(
            "doc_id", F.posexplode(word_ngrams("text", k)).alias("i", "gram")
        )
        .select("doc_id", "i", F.md5(F.col("gram")).alias("g"))
        # ONE gram exchange feeds the whole derivation: repartitioning by
        # g and computing the dup-key test as window functions below makes
        # the posexplode + hash (this operator's dominant CPU) run once.
        .repartition(F.col("g"))
    )
    # min≠max over a g-partitioned window ⇔ the gram occurs in ≥2 distinct
    # docs, evaluated on the one gram pass. keep_first's canonical
    # occurrence (min (doc_id, i)) rides the same window spec.
    from pyspark.sql.window import Window as _W

    wg = _W.partitionBy("g")
    occ = grams.withColumn("__dmin", F.min("doc_id").over(wg)).withColumn(
        "__dmax", F.max("doc_id").over(wg)
    )
    if keep_first:
        occ = occ.withColumn("__keep", F.min(F.struct(F.col("doc_id"), F.col("i"))).over(wg))
    occ = occ.filter(F.col("__dmin") != F.col("__dmax"))
    if keep_first:
        occ = occ.filter(
            (F.col("doc_id") != F.col("__keep.doc_id")) | (F.col("i") != F.col("__keep.i"))
        )
    # repartition by doc_id BEFORE the distinct: doc_id alone satisfies
    # the distinct's clustering on (doc_id, pos) AND every consumer's
    # doc-partitioned window or join, so the covered set is exchanged once.
    # No explicit partition count: AQE sizes it from runtime bytes.
    return (
        occ.select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(k - 1))).alias("pos"),
        )
        .repartition(F.col("doc_id"))
        .distinct()
    )


def repeated_ngram_spans(
    spark: SparkSession, sf_dir: str, k: int = REPEAT_NGRAM_K
) -> DataFrame:
    """Per-language MAXIMAL duplicated-span report (Lee et al. 2022's
    duplicated-run statistics: how LONG duplicated runs are): adjacent
    covered positions merge into maximal spans via the gaps-and-islands
    grouping ``pos − row_number()`` over a window partitioned by doc_id,
    then one map-side-combinable per-language aggregate: (lang, n_spans,
    n_docs_with_span, span_tokens, max_span_len, avg_span_len).

    ``span_tokens`` equals the scrub report's ``n_tokens −
    n_tokens_kept`` by construction (same _covered_positions set): the
    two registered rows describe one scrub from the mass and the run-
    length angles."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        _covered_positions(docs, k)
        .withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("span_len"))
    )
    # Per-doc pre-aggregation before the lang rollup: spans leave the
    # window stage partitioned by doc_id, so it is exchange-free, the lang
    # shuffle carries one row per doc, and n_docs_with_span is a plain
    # COUNT of per-doc rows (no distinct-aggregate Expand).
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans_doc"),
        F.sum("span_len").alias("span_tokens_doc"),
        F.max("span_len").alias("max_span_doc"),
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_spans_doc").alias("n_spans"),
            F.count(F.lit(1)).alias("n_docs_with_span"),
            F.sum("span_tokens_doc").alias("span_tokens"),
            F.max("max_span_doc").alias("max_span_len"),
            (
                F.sum("span_tokens_doc").cast("double")
                / F.sum("n_spans_doc").cast("double")
            ).alias("avg_span_len"),
        )
        .orderBy("lang")
    )


def scrub_repeated_ngrams_text(
    docs: DataFrame, k: int = REPEAT_NGRAM_K, keep_first: bool = False
) -> DataFrame:
    """(doc_id, text) with every token covered by a cross-document
    duplicated k-gram REMOVED — the rewrite step of substring-level
    dedup (Lee et al. 2022 §ExactSubstr rewrite their matches too). The
    default removes EVERY duplicated occurrence (the boilerplate-scrub
    posture: a run appearing in ≥2 docs is boilerplate everywhere it
    appears); ``keep_first=True`` is Lee et al.'s keep-one-copy policy —
    each duplicated gram's canonical (min doc_id, min position)
    occurrence survives (the exemption is per-GRAM, so a
    position kept by one gram can still be scrubbed by another gram's
    non-canonical overlap — the only composition that stays well-defined
    under overlapping spans, property-tested against a Python brute
    force). Token order is rebuilt deterministically (sort-by-position
    aggregate, never collect order)."""
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    kept = toks.join(
        _covered_positions(docs, k, keep_first=keep_first),
        ["doc_id", "pos"],
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text")
    )
    # fully-scrubbed docs keep an empty-string row (a pipeline decides
    # whether to drop empties), but a NULL-text document stays NULL, or
    # an absent document would look fully scrubbed
    return (
        docs.select("doc_id", F.col("text").isNull().alias("__was_null"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__was_null"), F.lit(None).cast("string"))
            .otherwise(F.coalesce("text", F.lit("")))
            .alias("text"),
        )
    )


def scrub_repeated_ngrams(
    spark: SparkSession, sf_dir: str, k: int = REPEAT_NGRAM_K
) -> DataFrame:
    """Per-language effect report of the substring-level scrub — the
    operation counterpart of :func:`dedup_repeated_ngrams` (that row
    MEASURES duplicated mass; this one prices REMOVING it): (lang,
    n_docs, n_tokens, n_tokens_kept, n_docs_touched, n_docs_emptied,
    kept_ratio) where kept tokens are those outside every duplicated
    k-gram span (:func:`_covered_positions` — one definition with the
    text rewriter, so the registered numbers always describe exactly
    what :func:`scrub_repeated_ngrams_text` would emit).

    Scale shape: one gram pass and exchange, the dup-key test as a
    g-partitioned window, one k-fan-out explode of duplicated
    occurrences and an anti-join on the compact (doc_id, pos) key —
    linear end-to-end, no posting lists."""
    docs = load_table(spark, sf_dir, "documents")
    return _scrub_report(docs, k)


def scrub_repeated_ngrams_keepfirst(
    spark: SparkSession, sf_dir: str, k: int = REPEAT_NGRAM_K
) -> DataFrame:
    """The same pricing report under Lee et al. 2022's KEEP-ONE-COPY
    policy: each duplicated gram's canonical (min doc_id, min position)
    occurrence is exempt from scrubbing, so exactly one copy of every
    duplicated run survives somewhere in the corpus. Registered alongside
    the remove-all row so both postures are certified (this row's
    n_tokens_kept ≥ the remove-all row's). Same linear shape plus one
    more window aggregate on the gram key (:func:`_covered_positions`)."""
    docs = load_table(spark, sf_dir, "documents")
    return _scrub_report(docs, k, keep_first=True)


def _scrub_report(docs: DataFrame, k: int, keep_first: bool = False) -> DataFrame:
    """ONE definition of the per-language scrub pricing aggregate, shared
    by the remove-all and keep-one-copy registered rows (a drift between
    them would silently make the two postures incomparable)."""
    toks = docs.select(
        "doc_id", "lang", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    kept = toks.join(
        _covered_positions(docs, k, keep_first=keep_first),
        ["doc_id", "pos"],
        "left_anti",
    )
    per_tot = toks.groupBy("doc_id", "lang").agg(F.count(F.lit(1)).alias("n_tok"))
    per_kept = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_kept"))
    zero = F.lit(0).cast("long")
    per_doc = per_tot.join(per_kept, "doc_id", "left").select(
        "doc_id", "lang", "n_tok", F.coalesce("n_kept", zero).alias("n_kept")
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_kept").alias("n_tokens_kept"),
            F.sum((F.col("n_kept") < F.col("n_tok")).cast("long")).alias(
                "n_docs_touched"
            ),
            F.sum((F.col("n_kept") == 0).cast("long")).alias("n_docs_emptied"),
            (
                F.sum("n_kept").cast("double") / F.sum("n_tok").cast("double")
            ).alias("kept_ratio"),
        )
        .orderBy("lang")
    )


def _scrub_report_sql(covered_cte: str) -> str:
    """ONE oracle template for both scrub pricing rows, parameterized by
    the covered-position CTE (the Spark twin of the one-definition rule
    _scrub_report enforces). The remove-all instantiation is asserted
    BYTE-IDENTICAL to the round-13 string in tests (the r13-evidenced
    row's oracle must not drift under the refactor)."""
    return f"""
WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
toks AS (
  SELECT doc_id, lang, i - 1 AS pos
  FROM docs, unnest(range(1, len(w) + 1)) AS t(i)),
grams AS (
  SELECT doc_id, i - 1 AS i0,
         md5(array_to_string(list_slice(w, i, i + {REPEAT_NGRAM_K - 1}), ' ')) AS g
  FROM docs,
       unnest(range(1, greatest(len(w) - {REPEAT_NGRAM_K - 1}, 0) + 1)) AS t(i)),
dup_keys AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
{covered_cte},
kept AS (
  SELECT t.doc_id FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM covered c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
per_tot AS (SELECT doc_id, lang, COUNT(*) AS n_tok FROM toks GROUP BY 1, 2),
per_kept AS (SELECT doc_id, COUNT(*) AS n_kept FROM kept GROUP BY 1),
per_doc AS (
  SELECT p.doc_id, p.lang, p.n_tok, COALESCE(q.n_kept, 0) AS n_kept
  FROM per_tot p LEFT JOIN per_kept q ON p.doc_id = q.doc_id)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(n_kept) AS BIGINT) AS n_tokens_kept,
       CAST(SUM(CASE WHEN n_kept < n_tok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_touched,
       CAST(SUM(CASE WHEN n_kept = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_emptied,
       CAST(SUM(n_kept) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE) AS kept_ratio
FROM per_doc GROUP BY lang ORDER BY lang
"""


_COVERED_ALL_CTE = f"""covered AS (
  SELECT DISTINCT doc_id, i0 + d AS pos
  FROM grams, unnest(range(0, {REPEAT_NGRAM_K})) AS u(d)
  WHERE g IN (SELECT g FROM dup_keys))"""

# keep-one-copy: the canonical occurrence — ROW_NUMBER 1 in (doc_id, pos)
# order per duplicated gram, DuckDB's exact lexicographic twin of the
# Spark side's min(struct(doc_id, i)) — is exempt; every OTHER duplicated
# occurrence still covers its k positions.
_COVERED_KEEPFIRST_CTE = f"""canon AS (
  SELECT g, doc_id AS cd, i0 AS ci FROM (
    SELECT g, doc_id, i0,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, i0) AS rn
    FROM grams WHERE g IN (SELECT g FROM dup_keys)) q
  WHERE rn = 1),
covered AS (
  SELECT DISTINCT doc_id, i0 + d AS pos
  FROM grams JOIN canon USING (g), unnest(range(0, {REPEAT_NGRAM_K})) AS u(d)
  WHERE NOT (doc_id = cd AND i0 = ci))"""

SCRUB_REPEATED_NGRAMS_SQL = _scrub_report_sql(_COVERED_ALL_CTE)
SCRUB_KEEPFIRST_SQL = _scrub_report_sql(_COVERED_KEEPFIRST_CTE)


REPEATED_NGRAMS_SQL = f"""
WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, lang,
         md5(array_to_string(list_slice(w, i, i + {REPEAT_NGRAM_K - 1}), ' ')) AS g
  FROM docs,
       unnest(range(1, greatest(len(w) - {REPEAT_NGRAM_K - 1}, 0) + 1)) AS t(i)),
dup_keys AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
dup_occ AS (SELECT * FROM grams WHERE g IN (SELECT g FROM dup_keys)),
total AS (SELECT lang, COUNT(*) AS n_grams FROM grams GROUP BY lang),
dupl AS (
  SELECT lang, COUNT(*) AS n_dup_grams,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS n_dup_keys,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with_dup
  FROM dup_occ GROUP BY lang)
SELECT t.lang, t.n_grams,
       COALESCE(d.n_dup_grams, 0) AS n_dup_grams,
       COALESCE(d.n_dup_keys, 0) AS n_dup_keys,
       COALESCE(d.n_docs_with_dup, 0) AS n_docs_with_dup,
       CAST(COALESCE(d.n_dup_grams, 0) AS DOUBLE)
         / CAST(t.n_grams AS DOUBLE) AS dup_mass
FROM total t LEFT JOIN dupl d ON t.lang = d.lang
ORDER BY t.lang
"""


# Maximal-span oracle: the same covered-position chain as the scrub
# oracle, then the identical gaps-and-islands grouping (pos − row_number
# per doc) and per-language aggregate the Spark side runs.
REPEATED_NGRAM_SPANS_SQL = f"""
WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, i - 1 AS i0,
         md5(array_to_string(list_slice(w, i, i + {REPEAT_NGRAM_K - 1}), ' ')) AS g
  FROM docs,
       unnest(range(1, greatest(len(w) - {REPEAT_NGRAM_K - 1}, 0) + 1)) AS t(i)),
dup_keys AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
covered AS (
  SELECT DISTINCT doc_id, i0 + d AS pos
  FROM grams, unnest(range(0, {REPEAT_NGRAM_K})) AS u(d)
  WHERE g IN (SELECT g FROM dup_keys)),
islands AS (
  SELECT doc_id,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM covered),
spans AS (
  SELECT doc_id, grp, COUNT(*) AS span_len FROM islands GROUP BY 1, 2)
SELECT lang, COUNT(*) AS n_spans,
       CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_docs_with_span,
       CAST(SUM(span_len) AS BIGINT) AS span_tokens,
       CAST(MAX(span_len) AS BIGINT) AS max_span_len,
       CAST(SUM(span_len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_span_len
FROM spans s JOIN docs d ON s.doc_id = d.doc_id
GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------------------- MinHash + LSH
# 4 signature components are carved out of each md5 (4 × 8 hex chars), so K
# components cost ceil(K/4) hash calls per shingle instead of K — md5 is the
# dominant signature cost. Disjoint chunks of a cryptographic hash are
# independent uniform values, so each chunk is a valid min-wise family
# member (MIN over lexicographic 8-hex-char strings).
MINHASH_CHUNKS_PER_MD5 = 4
MINHASH_GROUPS = (MINHASH_K + MINHASH_CHUNKS_PER_MD5 - 1) // MINHASH_CHUNKS_PER_MD5
_MH_COLS = [f"mh_{k:02d}" for k in range(MINHASH_K)]


def _minhash_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted (doc_id, mh_00..mh_11) signature table — the expensive
    shingle-explode + md5 + min-aggregate chain, shared by the registered
    signature query and every LSH consumer."""
    return _minhash_sigs_from(load_table(spark, sf_dir, "documents"))


def _minhash_sigs_from(docs: DataFrame) -> DataFrame:
    """Signature computation over any (doc_id, text) DataFrame — split out
    so the chunk-indexing expressions are equivalence-testable against a
    plain-Python reference on synthetic docs (tests/test_dedup.py)."""
    return _sigs_from_shingles(_shingle_rows(docs))


# THE MinHash indexing as SQL templates, shared by the aggregate and the
# array reduction so the two cannot drift: ``_MH_GROUP_HASH.format(g=g,
# s=<shingle>)`` is group g's hash of a shingle; ``_MH_CHUNK[c].format(h=
# <group hash>)`` carves chunk c out of it. Component k is chunk
# ``k % MINHASH_CHUNKS_PER_MD5`` of group ``k // MINHASH_CHUNKS_PER_MD5``,
# reduced by MIN over a document's distinct shingles.
_MH_GROUP_HASH = "md5(concat('{g}:', {s}))"
_MH_CHUNK = tuple(
    f"substring({{h}}, {c * 8 + 1}, 8)" for c in range(MINHASH_CHUNKS_PER_MD5)
)


def _sigs_from_shingles(sh: DataFrame) -> DataFrame:
    """MinHash aggregation over a (doc_id, s) shingle stream — the
    corpus-scale reduction: a map-side partial MIN then one shuffle, so the
    hashing spreads over every task of the shingle stream. The artifact
    build feeds it the SHARED materialized shingle stream
    (operators/shingles.py), so one corpus scan serves both the Jaccard
    tier and the signature build."""
    chunks = MINHASH_CHUNKS_PER_MD5
    # SQL-string expressions (one F.expr per column/aggregate): the
    # Column-operator form was ~80 py4j round-trips of driver time per plan
    # build
    hashes = [
        F.expr(_MH_GROUP_HASH.format(g=g, s="s") + f" AS h{g}")
        for g in range(MINHASH_GROUPS)
    ]
    aggs = [
        F.expr(f"min({_MH_CHUNK[k % chunks].format(h=f'h{k // chunks}')}) AS mh_{k:02d}")
        for k in range(MINHASH_K)
    ]
    return sh.select("doc_id", *hashes).groupBy("doc_id").agg(*aggs)


def _with_minhash_array(docs: DataFrame) -> DataFrame:
    """``docs`` plus mh_00…mh_11 computed per row by the ARRAY form of the
    MinHash reduction — ``array_min(transform(word_shingles(text), …))`` per
    component: the same values as :func:`_sigs_from_shingles`, with no
    explode, repartition or aggregate, so the whole signature is one map
    stage. Right for batch-sized input (the streaming micro-batch); the
    corpus paths keep the aggregate, whose map stage splits by shingle
    rows rather than by documents. A document with no shingle (NULL text,
    fewer than SHINGLE_N tokens) gets NULL components — the aggregate
    form emits no row for it."""
    chunks = MINHASH_CHUNKS_PER_MD5
    sh = docs.select("*", word_shingles("text", SHINGLE_N).alias("__sh"))
    # each group's hash array is its own column, so the hash runs once per
    # shingle and group rather than once per component
    hv = sh.select(
        "*",
        *[
            F.expr(f"transform(__sh, s -> {_MH_GROUP_HASH.format(g=g, s='s')}) AS __h{g}")
            for g in range(MINHASH_GROUPS)
        ],
    )
    return hv.select(
        *docs.columns,
        *[
            F.expr(
                f"array_min(transform(__h{k // chunks}, h -> "
                f"{_MH_CHUNK[k % chunks].format(h='h')})) AS mh_{k:02d}"
            )
            for k in range(MINHASH_K)
        ],
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-component MinHash signature per document: component k = MIN over
    shingles of hex chunk (k mod 4) of md5('(k div 4):' || shingle)."""
    return _minhash_sig_table(spark, sf_dir).orderBy("doc_id")


def _ensure_minhash_sigs(
    spark: SparkSession,
    sf_dir: str,
    split: str | None = None,
) -> DataFrame:
    """Published MinHash signature table (doc_id, mh_00…mh_11), about
    100 B/doc, built once per corpus content and shared by every LSH
    consumer (pairs, clustering, the incremental tiers, the training
    pipeline). Components are hex strings, so the parquet roundtrip is
    exact.

    ``split=None`` aggregates the shared shingle artifact (the stream the
    Jaccard tier scans, so one corpus scan serves both);
    ``split="batch"`` tokenizes the batch rows directly, under its own
    params infix."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_df, artifact_path

    ptag = f"k{MINHASH_K}n{SHINGLE_N}" + _split_params(split)
    path = artifact_path("minhash_sigs", sf_dir, "documents", params=ptag, spark=spark)
    if split == "batch":
        builder = lambda tmp: _minhash_sigs_from(  # noqa: E731
            _split(load_table(spark, sf_dir, "documents"), "batch")
        ).write.parquet(tmp)
    else:
        builder = lambda tmp: _sigs_from_shingles(  # noqa: E731
            ensure_shingle_rows(spark, sf_dir, SHINGLE_N)
        ).write.parquet(tmp)
    return artifact_df(path, builder, spark)


def _minhash_sql_core() -> str:
    hashes = ", ".join(f"md5('{g}:' || s) AS h{g}" for g in range(MINHASH_GROUPS))
    comps = ",\n       ".join(
        f"MIN(substr(h{k // MINHASH_CHUNKS_PER_MD5}, {(k % MINHASH_CHUNKS_PER_MD5) * 8 + 1}, 8)) AS mh_{k:02d}"
        for k in range(MINHASH_K)
    )
    return f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id,
         array_to_string(list_slice(w, i, i + {SHINGLE_N - 1}), ' ') AS s
  FROM docs, unnest(range(1, greatest(len(w) - {SHINGLE_N - 1}, 0) + 1)) AS t(i)) q),
hv AS (SELECT doc_id, {hashes} FROM sh),
sig AS (SELECT doc_id,
       {comps}
FROM hv GROUP BY doc_id)
"""


MINHASH_SIGNATURES_SQL = _minhash_sql_core() + "SELECT * FROM sig ORDER BY doc_id"


def _minhash_pairs_unsorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs WITHOUT the presentation sort — the form every
    downstream consumer (clustering, training pipeline) uses; a global
    sort in the middle of a chain is a pure range-shuffle tax.

    Scale shape: bands are EXPLODED to (band_id, band_hash) rows and the
    self-join is a plain equi-join on that composite key — Spark picks
    shuffle-hash/sort-merge. (An OR-of-band-equalities join condition is not
    an equi-join and degenerates to a BroadcastNestedLoopJoin — O(n²),
    unusable at scale.) The 12-component signature rides the band rows as a
    single array column (~200 B/row), so est_jaccard is computed inline in
    the join project — one shuffle, no cache, no signature re-join.
    """
    # The COMPACT signature table (1 row/doc, 12 components) comes from the
    # corpus-keyed materialized artifact: both self-join sides re-derive
    # their band rows from it with a cheap explode, and every OTHER LSH
    # consumer in the session (clustering, training pipeline) reads the
    # same parquet instead of re-running the corpus-scale shingle+md5
    # chain. (Checkpointing the exploded band rows instead was measurably
    # worse: 4 rows/doc each duplicating the signature array.)
    return _pairs_from_sigs(_ensure_minhash_sigs(spark, sf_dir))


def _band_hash(cols: list[str]) -> str:
    """THE band-hash expression over SQL columns ``cols``: the md5 of their
    '|'-joined strings."""
    return f"md5(concat_ws('|', {', '.join(cols)}))"


# SQL ``struct(band_id, band_hash)`` of each MinHash band
_BAND_STRUCTS = [
    f"struct({b} AS band_id, "
    f"{_band_hash(_MH_COLS[b * LSH_ROWS : (b + 1) * LSH_ROWS])} AS band_hash)"
    for b in range(LSH_BANDS)
]


_SIG_ARRAY = f"array({', '.join(_MH_COLS)}) AS sig"


def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, sig array, band_id, band_hash) rows from a signature table —
    THE banding derivation, shared by the whole-corpus self-join pair tier
    and the incremental batch-vs-corpus tier (one definition: the band
    layout IS the candidate contract, so two copies could silently band
    differently). SQL-string expressions: a handful of F.expr calls instead
    of ~100 py4j round-trips building the array/struct trees."""
    structs = ", ".join(_BAND_STRUCTS)
    return sig.select(
        F.col("doc_id"),
        F.expr(_SIG_ARRAY),
        F.expr(f"explode(array({structs})) AS bb"),
    ).select("doc_id", "sig", "bb.band_id", "bb.band_hash")


# SQL ``struct(band_id, band_hash)`` of the exact tier's candidate key: band
# −1, the band hash of ``content_hash`` (NULL for a NULL hash, so NULL text
# never joins a corpus row)
_EXACT_KEY = (
    f"struct(-1 AS band_id, nvl2(content_hash, {_band_hash(['content_hash'])}, NULL)"
    " AS band_hash)"
)


def _doc_keys(docs: DataFrame) -> DataFrame:
    """A per-document table (doc_id, content_hash, mh_00…mh_11, …) as
    candidate-key rows: every column of ``docs`` plus ``sig``, ``band_id``
    and ``band_hash``, from one explode per document. Every doc has the
    exact key (``_EXACT_KEY``); a doc with a signature also has the
    MinHash bands of :func:`_band_rows`. The per-micro-batch helpers
    here take SQL strings: each Column built in Python is a handful of
    py4j calls."""
    keys = ", ".join([_EXACT_KEY, *_BAND_STRUCTS])
    n = f"IF(mh_00 IS NULL, 1, {LSH_BANDS + 1})"
    return docs.selectExpr("*", _SIG_ARRAY, f"inline(slice(array({keys}), 1, {n}))")


# matching-component count between two banded rows' full signatures —
# est_jaccard's numerator (shared by the pair tier and the incremental tier)
_SIG_MATCHES = " + ".join(
    f"IF(a.sig[{k}] = b.sig[{k}], 1, 0)" for k in range(MINHASH_K)
)


def _pairs_from_sigs(sig: DataFrame) -> DataFrame:
    """Band + self-join over any signature table (see :func:`_band_rows`)."""
    bands = _band_rows(sig)
    a = bands.alias("a")
    b = bands.alias("b")
    matches = _SIG_MATCHES
    return (
        a.join(
            b,
            F.expr(
                "a.band_id = b.band_id AND a.band_hash = b.band_hash "
                "AND a.doc_id < b.doc_id"
            ),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.expr(f"cast(({matches}) AS DOUBLE) / {MINHASH_K} AS est_jaccard"),
        )
        .distinct()
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`_minhash_pairs_unsorted` with the
    deterministic presentation sort."""
    return _minhash_pairs_unsorted(spark, sf_dir).orderBy("d1", "d2")


def _minhash_pairs_ctes() -> str:
    """CTE chain ``sh → sig → bands → pairs`` (pairs: d1, d2, est_jaccard)."""
    band_exprs = ", ".join(
        "md5("
        + " || '|' || ".join(f"mh_{b * LSH_ROWS + r:02d}" for r in range(LSH_ROWS))
        + f") AS band_{b}"
        for b in range(LSH_BANDS)
    )
    same_band = " OR ".join(f"a.band_{i} = b.band_{i}" for i in range(LSH_BANDS))
    matches = " + ".join(
        f"CASE WHEN a.mh_{k:02d} = b.mh_{k:02d} THEN 1 ELSE 0 END" for k in range(MINHASH_K)
    )
    all_mh = ", ".join(f"mh_{k:02d}" for k in range(MINHASH_K))
    return (
        _minhash_sql_core()
        + f""",
bands AS (SELECT doc_id, {all_mh}, {band_exprs} FROM sig),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(({matches}) AS DOUBLE) / {MINHASH_K} AS est_jaccard
  FROM bands a JOIN bands b ON a.doc_id < b.doc_id AND ({same_band}))
"""
    )


MINHASH_LSH_SQL = _minhash_pairs_ctes() + "SELECT d1, d2, est_jaccard FROM pairs ORDER BY d1, d2"


# ----------------------------------------------------- incremental near-dup
# The clustering tier's strong-edge threshold (used by _cluster_ctes and
# the label artifact below; hoisted above the incremental section so the
# incremental threshold is ASSIGNED from it — round-11 ADVICE: a duplicated
# literal would let a future cluster-threshold change silently fork the
# incremental tier from the "drops exactly what the whole-corpus pipeline
# would cluster away" contract). 6/12 matching components is exactly
# representable, so the >= compare is engine-identical.
CLUSTER_MIN_EST_JACCARD = 0.5
# Strong-match threshold for the incremental tier = the clustering tier's
# strong-edge threshold, by assignment.
NEARDUP_INCR_MIN_EST = CLUSTER_MIN_EST_JACCARD


def _incr_report(
    batch_docs: DataFrame, vs_corpus: DataFrame, within: DataFrame
) -> DataFrame:
    """THE per-language incremental report — (lang, n_batch,
    n_dropped_corpus, n_dropped_within, n_kept) — shared by both
    fingerprint families (one definition: the category-disjointness rule
    must not exist in two copies that could drift; round-11 review).
    ``within`` holds only corpus-surviving docs by construction, so the
    categories partition the batch."""
    dc = F.col("dc").isNotNull()
    dw = ~dc & F.col("dw").isNotNull()
    return (
        batch_docs.select("doc_id", "lang")
        .join(vs_corpus.withColumn("dc", F.lit(1)), "doc_id", "left")
        .join(within.withColumn("dw", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(dc.cast("long")).alias("n_dropped_corpus"),
            F.sum(dw.cast("long")).alias("n_dropped_within"),
            F.sum((~dc & ~F.col("dw").isNotNull()).cast("long")).alias("n_kept"),
        )
        .orderBy("lang")
    )


# The report's SQL counterpart, shared by both family oracles: expects
# CTEs ``vs_corpus(doc_id)`` and ``within(doc_id)`` in scope.
_INCR_REPORT_SQL = f""",
marked AS (
  SELECT d.lang,
         CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dc,
         CASE WHEN v.doc_id IS NULL AND w.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dw
  FROM documents d
  LEFT JOIN vs_corpus v ON v.doc_id = d.doc_id
  LEFT JOIN within w ON w.doc_id = d.doc_id
  WHERE d.doc_id % {INCREMENT_MOD} = {INCREMENT_MOD - 1})
SELECT lang, COUNT(*) AS n_batch,
       CAST(SUM(dc) AS BIGINT) AS n_dropped_corpus,
       CAST(SUM(dw) AS BIGINT) AS n_dropped_within,
       CAST(SUM(1 - dc - dw) AS BIGINT) AS n_kept
FROM marked GROUP BY lang ORDER BY lang
"""


# The MinHash tier's candidate-join condition and strong-match test over
# two banded rows ``a`` and ``b`` (the defaults of _banded_drop_sets).
_BAND_KEY = "a.band_id = b.band_id AND a.band_hash = b.band_hash"
_SIG_STRONG = f"cast(({_SIG_MATCHES}) AS DOUBLE) / {MINHASH_K} >= {NEARDUP_INCR_MIN_EST}"


def _banded_drop_sets(
    batch_keys: DataFrame,
    corpus_keys: DataFrame,
    same_key: str = _BAND_KEY,
    strong: str = _SIG_STRONG,
) -> tuple[DataFrame, DataFrame]:
    """The incremental greedy-by-id drop rule: the (vs_corpus, within)
    doc_id sets of a batch's candidate-key rows against a corpus's.

    ``same_key`` is the candidate equi-join condition and ``strong`` the
    strong-match test, both SQL over the two sides aliased ``a`` and
    ``b``. The defaults are the MinHash band key and est_jaccard ≥
    NEARDUP_INCR_MIN_EST; the SimHash tier passes its pigeonhole key and
    Hamming ≤ SIMHASH_MAX_HAMMING.

    ``vs_corpus``: batch docs with a strong candidate pair to a corpus
    doc. ``within``: corpus-surviving batch docs with a strong candidate
    pair to a smaller-id surviving doc. Suppression runs among survivors
    only, because near-dup similarity is not transitive: every dropped
    doc then has a descending chain of strong pairs ending at a kept
    doc. The two sets are disjoint."""
    vs_corpus = (
        batch_keys.alias("a")
        .join(corpus_keys.alias("b"), F.expr(same_key))
        .filter(F.expr(strong))
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
    )
    fresh = batch_keys.join(vs_corpus, "doc_id", "left_anti")
    return vs_corpus, _banded_within(fresh, same_key, strong)


def _banded_within(
    fresh: DataFrame, same_key: str = _BAND_KEY, strong: str = _SIG_STRONG
) -> DataFrame:
    """The within half of :func:`_banded_drop_sets`: the doc_ids of
    ``fresh``'s candidate-key rows with a strong candidate pair to a
    smaller-id doc of ``fresh``."""
    return (
        fresh.alias("a")
        .join(fresh.alias("b"), F.expr(f"{same_key} AND a.doc_id < b.doc_id"))
        .filter(F.expr(strong))
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )


def neardup_incremental(
    spark: SparkSession, sf_dir: str, corpus_sigs: DataFrame | None = None
) -> DataFrame:
    """Incremental MinHash near-dup: the batch split's signatures are
    LSH-banded against the corpus split's by :func:`_banded_drop_sets`,
    and the result is the per-language report of :func:`_incr_report`
    (n_batch, n_dropped_corpus, n_dropped_within, n_kept).

    - dropped_corpus: batch docs sharing a band with a corpus doc at
      est_jaccard ≥ NEARDUP_INCR_MIN_EST;
    - dropped_within: corpus-surviving batch docs with a strong banded
      pair to a smaller-id surviving batch doc;
    - kept: the rest.

    Scale shape: both sides read published signature artifacts, the
    per-drop batch table (read three times by the plan, computed once)
    and the whole-corpus table filtered to the corpus split. Both joins
    shuffle (band_id, band_hash) keys with the 12-component signature
    riding along; the report is batch-sized.

    ``corpus_sigs`` is the explicit corpus side (pass the merged
    generation, ``published_df(spark, ensure_merged_corpus(...,
    "minhash_sigs"))``, so the next drop is judged against the corpus as
    accepted so far); no split filter is applied to it."""
    batch_docs = _split(load_table(spark, sf_dir, "documents"), "batch")
    batch_bands = _band_rows(_ensure_minhash_sigs(spark, sf_dir, split="batch"))
    if corpus_sigs is None:
        corpus_sigs = _split(_ensure_minhash_sigs(spark, sf_dir), "corpus")
    vs_corpus, within = _banded_drop_sets(batch_bands, _band_rows(corpus_sigs))
    return _incr_report(batch_docs, vs_corpus, within)


def _neardup_incremental_sql() -> str:
    """Oracle: replay batch + corpus signatures and the banding exactly as
    MINHASH_LSH_SQL does (same md5-chunk family, same band layout), split
    by the same modular rule, then the two strong-match joins and the
    per-language report."""
    band_exprs = ", ".join(
        "md5("
        + " || '|' || ".join(f"mh_{b * LSH_ROWS + r:02d}" for r in range(LSH_ROWS))
        + f") AS band_{b}"
        for b in range(LSH_BANDS)
    )
    same_band = " OR ".join(f"a.band_{i} = b.band_{i}" for i in range(LSH_BANDS))
    matches = " + ".join(
        f"CASE WHEN a.mh_{k:02d} = b.mh_{k:02d} THEN 1 ELSE 0 END"
        for k in range(MINHASH_K)
    )
    all_mh = ", ".join(f"mh_{k:02d}" for k in range(MINHASH_K))
    est = f"CAST(({matches}) AS DOUBLE) / {MINHASH_K}"
    return (
        _minhash_sql_core()
        + f""",
bands AS (SELECT doc_id, {all_mh}, {band_exprs} FROM sig),
bband AS (SELECT * FROM bands WHERE doc_id % {INCREMENT_MOD} = {INCREMENT_MOD - 1}),
cband AS (SELECT * FROM bands WHERE doc_id % {INCREMENT_MOD} <> {INCREMENT_MOD - 1}),
vs_corpus AS (
  SELECT DISTINCT a.doc_id FROM bband a JOIN cband b ON ({same_band})
  WHERE {est} >= {NEARDUP_INCR_MIN_EST}),
fresh AS (SELECT * FROM bband
          WHERE doc_id NOT IN (SELECT doc_id FROM vs_corpus)),
within AS (
  SELECT DISTINCT b.doc_id FROM fresh a JOIN fresh b
  ON a.doc_id < b.doc_id AND ({same_band})
  WHERE {est} >= {NEARDUP_INCR_MIN_EST})"""
        + _INCR_REPORT_SQL
    )


NEARDUP_INCREMENTAL_SQL = _neardup_incremental_sql()


# ------------------------------------------- chained curation drop pipeline
# What a pipeline runs per crawl drop: exact dedup first (32 B hash joins),
# then MinHash near-dup over the exact tier's survivors. The docs kept by
# the chain are the drop's one accept decision (ensure_curation_kept).

CURATION_STAGES = (
    "exact_corpus",
    "exact_within",
    "neardup_corpus",
    "neardup_within",
    "kept",
)


def _judge(batch_keys: DataFrame, corpus_keys: DataFrame) -> DataFrame:
    """THE batch-vs-corpus judge of the chained curation rule over
    candidate-key rows (:func:`_doc_keys`): one left join of the batch's
    rows to the corpus's (band_id, band_hash, sig, content_hash) rows on
    the band key, then one groupBy(doc_id). A band −1 hit counts when the
    full content_hash matches; a band 0–3 hit when the signatures match
    strongly (``_SIG_STRONG``). One row per batch doc: its columns (taken
    from any of its key rows, which all carry them) plus the never-NULL
    flags ``__in_corpus`` (exact) and ``__nd_corpus`` (near-dup)."""
    keys = ("doc_id", "sig", "band_id", "band_hash")
    carried = ", ".join(f"a.{c}" for c in batch_keys.columns if c not in keys)
    corpus = corpus_keys.select("band_id", "band_hash", "sig", "content_hash")
    return (
        batch_keys.alias("a")
        .join(corpus.alias("b"), F.expr(_BAND_KEY), "left")
        .groupBy("a.doc_id")
        .agg(
            F.expr(f"first(struct({carried})) AS __doc"),
            F.expr(
                "bool_or(a.band_id < 0 AND coalesce(a.content_hash = b.content_hash, false))"
                " AS __in_corpus"
            ),
            F.expr(f"bool_or(a.band_id >= 0 AND {_SIG_STRONG}) AS __nd_corpus"),
        )
        .selectExpr("doc_id", "__doc.*", "__in_corpus", "__nd_corpus")
    )


def _staged(judged: DataFrame) -> DataFrame:
    """THE chained curation rule's batch-only tail: ``judged`` (a
    :func:`_judge` output with mh_00…mh_11) with its flags replaced by
    ``stage`` ∈ CURATION_STAGES, chain order as precedence: exact_corpus
    (the exact flag), exact_within (:func:`_exact_stage`), neardup_corpus
    (the near-dup flag), neardup_within (:func:`_banded_within` over the
    bands of the docs still fresh), kept."""
    flagged = judged.select("*", _exact_stage(F.col("__in_corpus")).alias("__exact"))
    fresh = flagged.filter("__exact IS NULL AND NOT __nd_corpus AND mh_00 IS NOT NULL")
    within = _banded_within(_band_rows(fresh))
    stage = (
        "coalesce(__exact, IF(__nd_corpus, 'neardup_corpus', NULL),"
        " IF(__nd_within, 'neardup_within', NULL), 'kept') AS stage"
    )
    return (
        flagged.join(within.selectExpr("doc_id", "true AS __nd_within"), "doc_id", "left")
        .selectExpr("*", stage)
        .drop("__in_corpus", "__nd_corpus", "__exact", "__nd_within")
    )


def _curation_disposition(
    spark: SparkSession,
    sf_dir: str,
    corpus_hashes: DataFrame | None = None,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Per-document disposition of the batch split across the chained
    tiers: (doc_id, lang, stage), each batch doc in exactly one stage of
    CURATION_STAGES, by the streaming job's rule (:func:`_judge`, then
    :func:`_staged`). It feeds both the report
    (:func:`curation_drop_report`) and the accept decision
    (:func:`ensure_curation_kept`).

    The batch table is the batch split's content hashes left-joined to
    its signatures. The corpus key rows are the union of the hash side's
    exact keys and the signature side's bands, so no corpus-sized join is
    added. Both read the same published artifacts as the standalone
    tiers. ``corpus_hashes`` and ``corpus_sigs`` are the explicit corpus
    sides (the merged generations, for a later drop); no split filter is
    applied to them."""
    batch = (
        ensure_content_hashes(spark, sf_dir, split="batch")
        .select("doc_id", "lang", "content_hash")
        .join(_ensure_minhash_sigs(spark, sf_dir, split="batch"), "doc_id", "left")
    )
    if corpus_hashes is None:
        corpus_hashes = _split(ensure_content_hashes(spark, sf_dir), "corpus")
    if corpus_sigs is None:
        corpus_sigs = _split(_ensure_minhash_sigs(spark, sf_dir), "corpus")
    exact_keys = corpus_hashes.select(
        "content_hash", F.expr(_EXACT_KEY).alias("__k")
    ).select("__k.band_id", "__k.band_hash", "content_hash")
    corpus_keys = exact_keys.unionByName(_band_rows(corpus_sigs), allowMissingColumns=True)
    return _staged(_judge(_doc_keys(batch), corpus_keys)).select("doc_id", "lang", "stage")


def curation_drop_report(
    spark: SparkSession,
    sf_dir: str,
    corpus_hashes: DataFrame | None = None,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """THE per-drop curation report — per-language counts of every chained
    drop reason plus the accepted remainder: (lang, n_batch,
    n_exact_corpus, n_exact_within, n_neardup_corpus, n_neardup_within,
    n_kept). The stage categories partition the batch by construction, so
    the count columns sum to n_batch row-by-row. This composes the way
    ``training_corpus_stats`` composes dedup→gate→stats: the recurring
    pipeline runs THIS query per drop and logs its rows — with the
    merged-generation hooks (``corpus_hashes`` / ``corpus_sigs``) on the
    SECOND and later drops, so each drop is judged against the corpus as
    accepted so far (pinned in tests: re-submitting an accepted drop
    against both merged generations keeps nothing)."""
    disp = _curation_disposition(
        spark, sf_dir, corpus_hashes=corpus_hashes, corpus_sigs=corpus_sigs
    )
    counts = [
        F.sum((F.col("stage") == s).cast("long")).alias(f"n_{s}")
        for s in CURATION_STAGES
    ]
    return (
        disp.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_batch"), *counts)
        .orderBy("lang")
    )


def curation_second_drop_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chained per-drop report of the same batch, classified against
    the merged content-hash and signature generations that drop 1's
    accept step published (:func:`ensure_merged_corpus`): the
    resubmission of an accepted drop. Each drop is judged against the
    corpus as accepted so far, so the previously kept docs are now
    ``exact_corpus`` and n_kept is 0. Both corpus sides are published
    artifact scans; no corpus text is read."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import published_df

    merged_h = published_df(spark, ensure_merged_corpus(spark, sf_dir, "content_hashes"))
    merged_s = published_df(spark, ensure_merged_corpus(spark, sf_dir, "minhash_sigs"))
    return curation_drop_report(
        spark, sf_dir, corpus_hashes=merged_h, corpus_sigs=merged_s
    )


def _curation_pass_ctes(
    sfx: str, baseh_rel: str, cband_where: str, with_bands: bool = False
) -> str:
    """ONE classification pass of the chained curation rule (exact tier →
    banded near-dup tier → disposition), every CTE name suffixed with
    ``sfx`` so two passes compose in one WITH-chain (the second-drop
    replay). Parameterized by the corpus-side hash relation and the
    corpus-side band predicate — exactly the two corpus hooks the
    engine's :func:`_curation_disposition` exposes (``corpus_hashes`` /
    ``corpus_sigs``), so engine and oracle stay structurally one rule.
    At the first-pass defaults the emitted text is byte-identical to the
    pre-round-13 inline chain (asserted in tests against the registered
    oracle strings). ``with_bands`` emits the pass-independent ``bands``
    projection (first pass only — it is shared by both passes)."""
    band_exprs = ", ".join(
        "md5("
        + " || '|' || ".join(f"mh_{b * LSH_ROWS + r:02d}" for r in range(LSH_ROWS))
        + f") AS band_{b}"
        for b in range(LSH_BANDS)
    )
    same_band = " OR ".join(f"a.band_{i} = b.band_{i}" for i in range(LSH_BANDS))
    matches = " + ".join(
        f"CASE WHEN a.mh_{k:02d} = b.mh_{k:02d} THEN 1 ELSE 0 END"
        for k in range(MINHASH_K)
    )
    all_mh = ", ".join(f"mh_{k:02d}" for k in range(MINHASH_K))
    est = f"CAST(({matches}) AS DOUBLE) / {MINHASH_K}"
    bands = f"bands AS (SELECT doc_id, {all_mh}, {band_exprs} FROM sig),\n" if with_bands else ""
    return f"""exact_corpus{sfx} AS (
  SELECT doc_id FROM batchx b WHERE EXISTS (
    SELECT 1 FROM {baseh_rel} h WHERE h.content_hash = b.content_hash)),
exact_fresh{sfx} AS (
  SELECT * FROM batchx
  WHERE doc_id NOT IN (SELECT doc_id FROM exact_corpus{sfx})),
exact_within{sfx} AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
    FROM exact_fresh{sfx}) f WHERE rn > 1),
survivors{sfx} AS (
  SELECT doc_id FROM exact_fresh{sfx}
  WHERE doc_id NOT IN (SELECT doc_id FROM exact_within{sfx})),
{bands}bband{sfx} AS (SELECT * FROM bands
          WHERE doc_id IN (SELECT doc_id FROM survivors{sfx})),
cband{sfx} AS (SELECT * FROM bands
          WHERE {cband_where}),
nd_corpus{sfx} AS (
  SELECT DISTINCT a.doc_id FROM bband{sfx} a JOIN cband{sfx} b ON ({same_band})
  WHERE {est} >= {NEARDUP_INCR_MIN_EST}),
nd_fresh{sfx} AS (SELECT * FROM bband{sfx}
             WHERE doc_id NOT IN (SELECT doc_id FROM nd_corpus{sfx})),
nd_within{sfx} AS (
  SELECT DISTINCT b.doc_id FROM nd_fresh{sfx} a JOIN nd_fresh{sfx} b
  ON a.doc_id < b.doc_id AND ({same_band})
  WHERE {est} >= {NEARDUP_INCR_MIN_EST}),
disposition{sfx} AS (
  SELECT b.doc_id, b.lang,
         CASE WHEN ec.doc_id IS NOT NULL THEN 'exact_corpus'
              WHEN ew.doc_id IS NOT NULL THEN 'exact_within'
              WHEN nc.doc_id IS NOT NULL THEN 'neardup_corpus'
              WHEN nw.doc_id IS NOT NULL THEN 'neardup_within'
              ELSE 'kept' END AS stage
  FROM batchx b
  LEFT JOIN exact_corpus{sfx} ec ON ec.doc_id = b.doc_id
  LEFT JOIN exact_within{sfx} ew ON ew.doc_id = b.doc_id
  LEFT JOIN nd_corpus{sfx} nc ON nc.doc_id = b.doc_id
  LEFT JOIN nd_within{sfx} nw ON nw.doc_id = b.doc_id)"""


def _curation_ctes() -> str:
    """The chained-disposition CTE chain (oracle side), ending in
    ``disposition(doc_id, lang, stage)`` — shared verbatim by the report
    oracle, the merge oracles and the second-drop replay (same
    one-definition rule as the engine's :func:`_curation_disposition`).
    Replays the exact tier over sha256 hex (unhex is injective —
    identical groups either way), then the banded near-dup rule over the
    exact survivors, exactly as ``_neardup_incremental_sql`` replays the
    standalone tier."""
    return (
        _minhash_sql_core()
        + f""",
batchx AS (
  SELECT doc_id, lang, sha256(text) AS content_hash
  FROM documents WHERE doc_id % {INCREMENT_MOD} = {INCREMENT_MOD - 1}),
baseh AS (
  SELECT DISTINCT sha256(text) AS content_hash
  FROM documents WHERE doc_id % {INCREMENT_MOD} <> {INCREMENT_MOD - 1}),
"""
        + _curation_pass_ctes(
            "",
            "baseh",
            f"doc_id % {INCREMENT_MOD} <> {INCREMENT_MOD - 1}",
            with_bands=True,
        )
    )


def _merged_hash_cte() -> str:
    """Oracle CTE ``merged_h``: the merged content-hash generation (the
    corpus split plus the kept batch rows), shared by the hash-merge
    inventory oracle and the second-drop replay."""
    return f"""merged_h AS (
  SELECT doc_id, content_hash FROM (
    SELECT doc_id, sha256(text) AS content_hash FROM documents
    WHERE doc_id % {INCREMENT_MOD} <> {INCREMENT_MOD - 1}) c
  UNION ALL
  SELECT b.doc_id, b.content_hash FROM batchx b
  JOIN disposition d ON d.doc_id = b.doc_id AND d.stage = 'kept')"""


def _report_select(rel: str) -> str:
    """The per-language stage-count projection over a disposition
    relation — shared by the first-drop and second-drop report oracles."""
    stage_counts = ",\n       ".join(
        f"CAST(SUM(CASE WHEN stage = '{s}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{s}"
        for s in CURATION_STAGES
    )
    return f"""
SELECT lang, COUNT(*) AS n_batch,
       {stage_counts}
FROM {rel} GROUP BY lang ORDER BY lang"""


def _curation_report_sql() -> str:
    return _curation_ctes() + _report_select("disposition")


CURATION_DROP_REPORT_SQL = _curation_report_sql()


def _curation_second_report_sql() -> str:
    """The RESUBMISSION replay in one WITH-chain (round-12 verdict ask:
    drop 1 → accept/merge → drop 2 classification): pass 1 is the
    standard chained disposition; the accept step forms the merged
    hash generation (``merged_h`` — the shared merge CTE) and the merged
    signature membership (corpus split ∪ kept docs); pass 2 re-classifies
    the SAME batch against those merged generations — the engine side of
    :func:`curation_second_drop_report`. This certifies the chain's
    strongest claim as a hash-gated fact: each drop is judged against
    the corpus AS ACCEPTED SO FAR, so a resubmitted accepted drop keeps
    nothing (its kept docs ARE corpus content now — pinned in tests)."""
    return (
        _curation_ctes()
        + ",\n"
        + _merged_hash_cte()
        + """,
baseh2 AS (
  SELECT DISTINCT content_hash FROM merged_h),
"""
        + _curation_pass_ctes(
            "2",
            "baseh2",
            f"""doc_id % {INCREMENT_MOD} <> {INCREMENT_MOD - 1}
             OR doc_id IN (SELECT doc_id FROM disposition WHERE stage = 'kept')""",
        )
        + _report_select("disposition2")
    )


CURATION_SECOND_DROP_REPORT_SQL = _curation_second_report_sql()


def _accept_ptag() -> str:
    """Params fragment naming every constant of the accept decision (the
    chained disposition): the drop split, the near-dup tier's signature
    layout and strong-match threshold. Shared by the kept artifact and
    every merged generation, so a retuned chain never serves a stale
    accepted set."""
    return (
        f"mrg{INCREMENT_MOD}k{MINHASH_K}b{LSH_BANDS}r{LSH_ROWS}n{SHINGLE_N}"
        f"j{int(NEARDUP_INCR_MIN_EST * 100)}"
    )


def ensure_curation_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drop's accept decision as an artifact: (doc_id) of the chained
    disposition's kept docs, computed once per drop and read by the
    accept step of every artifact kind (:func:`ensure_merged_corpus`),
    under the accept tag."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_df, artifact_path

    path = artifact_path(
        "curation_kept", sf_dir, "documents", params=_accept_ptag(), spark=spark
    )
    return artifact_df(
        path,
        lambda tmp: _curation_disposition(spark, sf_dir)
        .filter(F.col("stage") == "kept")
        .select("doc_id")
        .write.parquet(tmp),
        spark,
    )


# ------------------------------------------------------------------- SimHash
# Packed vote aggregation: 3 bit-counters per 64-bit aggregate, 20-bit
# lanes. A bit's signed vote Σ c·(±1) is recoverable from its non-negative
# set-count Σ c·bit and the doc total Σ c (vote > 0 ⇔ 2·count > total), so
# the 64 per-bit sums collapse to ceil(64/3)=22 packed sums + 1 total.
# Lane-carry safety: each lane ≤ doc token total, so a doc must stay under
# 2^20 (~1M) tokens — asserted at runtime (corpus docs are chunked far
# below this at ingest).
SIMHASH_LANE_BITS = 20
SIMHASH_LANES_PER_AGG = 3


def _simhash_fp_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted (doc_id, simhash_hi, simhash_lo) fingerprint table — the
    token-explode + md5 + packed-vote chain, shared by the registered
    fingerprint query and the near-pair self-join."""
    # ONE aggregation level: every token OCCURRENCE votes with weight 1 —
    # integer vote sums are exactly the count-weighted sums the previous
    # (doc_id, token)→count pre-aggregate produced, so the fingerprints
    # are bit-identical (and the SQL oracle, which still weights by count,
    # agrees). Dropping the pre-aggregate removes a full shuffle on the
    # wide (doc_id, token) key; the remaining groupBy(doc_id) combines
    # map-side down to one row per document before its (tiny) shuffle.
    # (No ``spread`` here: A/B-measured, the round-robin shuffle of the
    # document text costs more than the ~0.9 s single-task map it would
    # parallelize at sf0.1 — unlike the shingle chain, this map is cheap.)
    return _simhash_fp_from(load_table(spark, sf_dir, "documents"))


def _simhash_fp_from(docs: DataFrame) -> DataFrame:
    """Fingerprint computation over any (doc_id, text) DataFrame — split
    out so the packed-vote/SQL-string machinery is equivalence-testable
    against a plain-Python reference on synthetic docs
    (tests/test_dedup.py). A token's 64 vote bits are the first 16 hex
    chars of md5(token), as two uniform 32-bit values v_hi/v_lo."""
    half_bits = SIMHASH_BITS // 2
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    # md5 computed ONCE per occurrence and shared by both halves — codegen
    # does not common-subexpression two separate md5(t) calls (A/B-measured
    # ~30% of the map time at sf0.1)
    tok = tok.withColumn("h16", F.substring(F.md5(F.col("t")), 1, 16)).select(
        "doc_id",
        F.conv(F.substring(F.col("h16"), 1, 8), 16, 10).cast("long").alias("v_hi"),
        F.conv(F.substring(F.col("h16"), 9, 8), 16, 10).cast("long").alias("v_lo"),
    )
    groups = [
        (h, g, list(range(g, min(g + SIMHASH_LANES_PER_AGG, half_bits))))
        for h in ("hi", "lo")
        for g in range(0, half_bits, SIMHASH_LANES_PER_AGG)
    ]
    # The packed-vote expressions are built as SQL STRINGS (one F.expr per
    # aggregate / half), not as Column-operator trees: the tree form is
    # hundreds of py4j round-trips and cost ~1.5 s of DRIVER time per
    # plan build at any data size (measured; the actual executor work is
    # ~0.3 s at sf0.1). Semantically identical — same shifts, same
    # lane packing.
    packed_aggs = [F.expr("count(1) AS tot")]
    for h, g, bits in groups:
        lanes = " + ".join(
            f"(shiftright(v_{h}, {bbit}) & 1) * {1 << (SIMHASH_LANE_BITS * lane)}"
            for lane, bbit in enumerate(bits)
        )
        packed_aggs.append(F.expr(f"sum({lanes}) AS p_{h}_{g:02d}"))
    voted = tok.groupBy("doc_id").agg(*packed_aggs)

    lane_mask = (1 << SIMHASH_LANE_BITS) - 1

    def _half(h: str) -> str:
        terms = []
        for hh, g, bits in groups:
            if hh != h:
                continue
            for lane, bbit in enumerate(bits):
                cnt = f"(shiftright(p_{h}_{g:02d}, {SIMHASH_LANE_BITS * lane}) & {lane_mask})"
                terms.append(f"IF({cnt} * 2 > tot, {2**bbit}, 0)")
        return " + ".join(terms)

    # fail loudly if a doc's token total would overflow a 20-bit lane
    guard = (
        f"coalesce(cast(assert_true(tot < {1 << SIMHASH_LANE_BITS}, "
        f"'simhash packed-vote lane overflow: document exceeds 2^20 tokens') AS BIGINT), 0)"
    )
    return voted.select(
        F.col("doc_id"),
        F.expr(f"cast(({_half('hi')}) + {guard} AS BIGINT) AS simhash_hi"),
        F.expr(f"cast(({_half('lo')}) + {guard} AS BIGINT) AS simhash_lo"),
    )


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document, carried as two 32-bit halves
    (``simhash_hi``, ``simhash_lo``): token-frequency-weighted bit votes
    where token bits come from the first 16 hex chars of md5(token) —
    chars 1-8 vote the hi half, chars 9-16 the lo half. Two halves keep
    every materialized value (fingerprint, XOR, block) inside signed-64-bit
    range on both engines, avoiding unsigned/HUGEINT hazards a single
    64-bit word would hit at bit 63. Bit votes are packed (see above) so
    the aggregate carries 23 longs per doc, not 64."""
    return _simhash_fp_table(spark, sf_dir).orderBy("doc_id")


def _simhash_ctes(sfx: str = "") -> str:
    """The fingerprint-replay CTE body (``tok``/``hv``/``voted``/``fp``,
    each suffixed by ``sfx``), WITHOUT the leading ``WITH`` — so it can
    compose with other CTE chains whose names collide (the curation
    chain's minhash core also defines ``hv``; the fingerprint-merge
    oracle composes both). ``sfx=""`` reproduces the historical body
    byte-for-byte."""
    half_bits = SIMHASH_BITS // 2

    # hex → int without conv(): digit positions via instr over the hex alphabet
    def hexval(start: int) -> str:
        return " + ".join(
            f"(instr('0123456789abcdef', substr(md5(t), {start + j}, 1)) - 1) * {16 ** (7 - j)}"
            for j in range(8)
        )

    votes = ",\n       ".join(
        f"SUM(c * (((v_{h} >> {b}) & 1) * 2 - 1)) AS s_{h}_{b:02d}"
        for h in ("hi", "lo")
        for b in range(half_bits)
    )
    bits = {
        h: " + ".join(
            f"CASE WHEN s_{h}_{b:02d} > 0 THEN {2**b} ELSE 0 END" for b in range(half_bits)
        )
        for h in ("hi", "lo")
    }
    return f"""tok{sfx} AS (
  SELECT doc_id, t, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) q
  GROUP BY doc_id, t),
hv{sfx} AS (SELECT doc_id, c, CAST({hexval(1)} AS BIGINT) AS v_hi,
               CAST({hexval(9)} AS BIGINT) AS v_lo FROM tok{sfx}),
voted{sfx} AS (SELECT doc_id,
       {votes}
FROM hv{sfx} GROUP BY doc_id),
fp{sfx} AS (SELECT doc_id, CAST({bits['hi']} AS BIGINT) AS simhash_hi,
              CAST({bits['lo']} AS BIGINT) AS simhash_lo FROM voted{sfx})
"""


def _simhash_sql_core() -> str:
    return "\nWITH " + _simhash_ctes()


SIMHASH_SQL = _simhash_sql_core() + "SELECT doc_id, simhash_hi, simhash_lo FROM fp ORDER BY doc_id"


def _ensure_simhash_fps(
    spark: SparkSession, sf_dir: str, split: str | None = None
) -> DataFrame:
    """Published SimHash fingerprint table (doc_id, simhash_hi,
    simhash_lo), 3 longs/doc, built once per corpus content and shared by
    the near-pair self-join and the incremental tier; the parquet
    roundtrip is exact. The params token names the bit layout.

    ``split=None`` is the whole corpus; ``split="batch"`` is the per-drop
    batch table under its own params infix (:func:`_split_params`)."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_df, artifact_path

    path = artifact_path(
        "simhash_fp",
        sf_dir,
        "documents",
        params=f"b{SIMHASH_BITS}l{SIMHASH_LANE_BITS}" + _split_params(split),
    )
    docs = _split(load_table(spark, sf_dir, "documents"), split)
    return artifact_df(
        path, lambda tmp: _simhash_fp_from(docs).write.parquet(tmp), spark
    )


SIMHASH_SUB_BLOCKS = 4  # second-stage split of the 48 complement bits
SIMHASH_SUB_BITS = 12  # 48 / SIMHASH_SUB_BLOCKS


def _simhash_candidate_keys(fp: DataFrame, two_stage: bool = True) -> DataFrame:
    """Blocking-key rows for the Hamming-≤3 self-join: (doc_id,
    simhash_hi, simhash_lo, key_id, blk_val, sub_val).

    Stage 1 (pigeonhole over 4×16-bit blocks): a pair within distance 3
    has ≥1 exact block. Stage 2 (round-8 verdict ask #5 — pigeonhole
    AGAIN, inside each stage-1 choice): with block i exact, all ≤3
    differing bits live in the 48 COMPLEMENT bits; split those into 4
    sub-blocks of 12 → ≥1 sub-block is exact too. So every true pair
    shares the composite key (key_id = i·4 + s, blk_val_i, sub_val_s) for
    some (i, s) — candidate generation stays a pure equi-join and remains
    a SUPERSET of the true pairs (the final Hamming filter is unchanged,
    so the RESULT is bit-identical to the single-stage plan; pinned in
    tests/test_dedup.py). Key space per key_id grows from 2^16 to 2^28:
    expected in-bucket pairing drops from 4·O(N²/2^16) to 16·O(N²/2^28)
    — the crossover math is in SCALE.md. ``two_stage=False`` keeps the
    single-stage explode (sub_val ≡ 0) for measured A/B comparison."""
    # 16-bit blocks of the two 32-bit halves (b0 lowest): pure-JVM
    # shift/mask over the artifact's 3 longs/row. (shiftright/shiftleft
    # function form — Spark's SQL parser has no >>/<< operators.)
    blocks = [
        f"(simhash_lo & {2**SIMHASH_BLOCK_BITS - 1})",
        f"shiftright(simhash_lo, {SIMHASH_BLOCK_BITS})",
        f"(simhash_hi & {2**SIMHASH_BLOCK_BITS - 1})",
        f"shiftright(simhash_hi, {SIMHASH_BLOCK_BITS})",
    ]
    structs = []
    for i, bi in enumerate(blocks):
        if not two_stage:
            structs.append(
                f"struct({i} AS key_id, {bi} AS blk_val, CAST(0 AS BIGINT) AS sub_val)"
            )
            continue
        # 48-bit complement of block i: remaining blocks concatenated in
        # ascending order (fits signed 64)
        rem = [b for j, b in enumerate(blocks) if j != i]
        r = (
            f"({rem[0]} | shiftleft({rem[1]}, {SIMHASH_BLOCK_BITS})"
            f" | shiftleft({rem[2]}, {2 * SIMHASH_BLOCK_BITS}))"
        )
        for s in range(SIMHASH_SUB_BLOCKS):
            structs.append(
                f"struct({i * SIMHASH_SUB_BLOCKS + s} AS key_id, {bi} AS blk_val, "
                f"(shiftright({r}, {s * SIMHASH_SUB_BITS}) & {2**SIMHASH_SUB_BITS - 1}) AS sub_val)"
            )
    return fp.select(
        "doc_id",
        "simhash_hi",
        "simhash_lo",
        F.explode(F.expr("array(" + ", ".join(structs) + ")")).alias("bb"),
    ).select(
        "doc_id", "simhash_hi", "simhash_lo", "bb.key_id", "bb.blk_val", "bb.sub_val"
    )


def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ 3. Scale strategy:
    TWO-LEVEL pigeonhole blocking (see :func:`_simhash_candidate_keys`) —
    any pair within distance 3 shares a composite (exact 16-bit block,
    exact 12-bit complement sub-block) key, so the self-join key space is
    2^28 per key_id and expected in-bucket pairing at N docs is
    16·O(N²/2^28) — sub-quadratic out to ~10^10-doc corpora (SCALE.md has
    the crossover math vs the single-stage 4·O(N²/2^16))."""
    # The COMPACT fingerprint table (3 longs/row) comes from the
    # corpus-keyed materialized artifact; both self-join sides re-derive
    # key rows from it with a cheap explode. Executor loss during the
    # join is ordinary task retry over a file source (the round-6-era
    # localCheckpoint here was the suite's last non-iterative corpus-scale
    # one).
    fp = _ensure_simhash_fps(spark, sf_dir)
    # Explode to (key_id, blk_val, sub_val) rows so the self-join is an
    # equi-join on the composite key (shuffle-hash/sort-merge), never a
    # BroadcastNestedLoopJoin from an OR-of-equalities condition.
    keys = _simhash_candidate_keys(fp)
    a = keys.alias("a")
    b = keys.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash_hi").bitwiseXOR(F.col("b.simhash_hi"))
    ) + F.bit_count(F.col("a.simhash_lo").bitwiseXOR(F.col("b.simhash_lo")))
    return (
        a.join(
            b,
            (F.col("a.key_id") == F.col("b.key_id"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.sub_val") == F.col("b.sub_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
        .orderBy("d1", "d2")
    )


SIMHASH_PAIRS_SQL = _simhash_sql_core() + f"""
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash_hi, b.simhash_hi))
            + bit_count(xor(a.simhash_lo, b.simhash_lo)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash_hi, b.simhash_hi))
      + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= {SIMHASH_MAX_HAMMING}
ORDER BY d1, d2
"""


# -------------------------------------------- incremental near-dup (SimHash)
# The SimHash tier's candidate-join condition (the two-level pigeonhole key
# of _simhash_candidate_keys) and strong-match test over key rows a and b.
_SIMHASH_KEY = "a.key_id = b.key_id AND a.blk_val = b.blk_val AND a.sub_val = b.sub_val"
_SIMHASH_NEAR = (
    "bit_count(a.simhash_hi ^ b.simhash_hi) + bit_count(a.simhash_lo ^ b.simhash_lo)"
    f" <= {SIMHASH_MAX_HAMMING}"
)


def neardup_incremental_simhash(
    spark: SparkSession, sf_dir: str, corpus_fps: DataFrame | None = None
) -> DataFrame:
    """Incremental SimHash near-dup: the report contract of
    :func:`neardup_incremental` with the SimHash strong match, Hamming
    distance ≤ SIMHASH_MAX_HAMMING. The batch split's fingerprints meet
    the corpus split's through :func:`_banded_drop_sets`, with the
    two-level pigeonhole keys of :func:`_simhash_candidate_keys` as the
    candidate equi-join (every pair within the threshold shares a key).

    Scale shape: the corpus side is the published fingerprint artifact
    filtered to the corpus split; the batch side is its own per-drop
    artifact, read by all three join sides. Key rows carry 3 longs and 3
    key columns.

    ``corpus_fps`` is the explicit corpus side (pass the merged
    generation, ``published_df(spark, ensure_merged_corpus(...,
    "simhash_fp"))``); no split filter is applied to it."""
    batch_docs = _split(load_table(spark, sf_dir, "documents"), "batch")
    batch_keys = _simhash_candidate_keys(_ensure_simhash_fps(spark, sf_dir, split="batch"))
    if corpus_fps is None:
        corpus_fps = _split(_ensure_simhash_fps(spark, sf_dir), "corpus")
    vs_corpus, within = _banded_drop_sets(
        batch_keys, _simhash_candidate_keys(corpus_fps), _SIMHASH_KEY, _SIMHASH_NEAR
    )
    return _incr_report(batch_docs, vs_corpus, within)


NEARDUP_INCREMENTAL_SIMHASH_SQL = (
    _simhash_sql_core()
    + f""",
bfp AS (SELECT * FROM fp WHERE doc_id % {INCREMENT_MOD} = {INCREMENT_MOD - 1}),
cfp AS (SELECT * FROM fp WHERE doc_id % {INCREMENT_MOD} <> {INCREMENT_MOD - 1}),
vs_corpus AS (
  SELECT DISTINCT a.doc_id FROM bfp a JOIN cfp b
  ON bit_count(xor(a.simhash_hi, b.simhash_hi))
     + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= {SIMHASH_MAX_HAMMING}),
fresh AS (SELECT * FROM bfp
          WHERE doc_id NOT IN (SELECT doc_id FROM vs_corpus)),
within AS (
  SELECT DISTINCT b.doc_id FROM fresh a JOIN fresh b
  ON a.doc_id < b.doc_id
 AND bit_count(xor(a.simhash_hi, b.simhash_hi))
     + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= {SIMHASH_MAX_HAMMING})"""
    + _INCR_REPORT_SQL
)


# ----------------------------------------------------------------- accept step
# A drop's accepted documents (ensure_curation_kept: one accept decision)
# are merged into every published fingerprint artifact kind the same way:
# the kind's corpus split plus its batch rows for the kept docs, published
# atomically as a new generation that the incremental tiers take as their
# explicit corpus side.
class _Accepted(NamedTuple):
    """How the accept step treats one artifact kind."""

    ensure: Callable[..., DataFrame]  # (spark, sf_dir, split=None | "batch")
    params: str  # params prefix of the merged generation (+ _accept_ptag())
    key: str  # the inventory's distinct key: a SQL expression AS its name
    column: str  # the inventory's distinct-count column


_ACCEPTED = {
    "content_hashes": _Accepted(
        ensure_content_hashes, "sha256", "hex(content_hash) AS h", "n_distinct_hashes"
    ),
    "minhash_sigs": _Accepted(
        _ensure_minhash_sigs,
        "",
        f"concat_ws('|', {', '.join(_MH_COLS)}) AS sig",
        "n_distinct_sigs",
    ),
    "simhash_fp": _Accepted(
        _ensure_simhash_fps,
        f"b{SIMHASH_BITS}l{SIMHASH_LANE_BITS}",
        "concat_ws('|', simhash_hi, simhash_lo) AS fp",
        "n_distinct_fps",
    ),
}


def merged_corpus_path(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Artifact location of ``kind``'s merged corpus generation. Its params
    are the kind's prefix plus the accept tag, so the original corpus
    artifact and a merged generation are never served for each other, and
    a retuned accept decision never serves a stale generation."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_path

    params = _ACCEPTED[kind].params + _accept_ptag()
    return artifact_path(kind, sf_dir, "documents", params=params, spark=spark)


def ensure_merged_corpus(
    spark: SparkSession, sf_dir: str, kind: str, force: bool = False
) -> str:
    """The accept step for one artifact ``kind`` ("content_hashes",
    "minhash_sigs" or "simhash_fp"): publish the corpus split of the
    kind's whole-corpus artifact plus its batch-split rows for the kept
    docs of :func:`ensure_curation_kept` as a new generation, and return
    its path. A doc with no row in the batch table (too short to shingle)
    has none in the merge. Both inputs are published artifacts, so the
    merge is an append-sized job that reads no text. ``force`` rebuilds
    a published generation."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import ensure_artifact

    ensure = _ACCEPTED[kind].ensure
    path = merged_corpus_path(spark, sf_dir, kind)

    def build(tmp: str) -> None:
        kept = ensure_curation_kept(spark, sf_dir)
        corpus = _split(ensure(spark, sf_dir), "corpus")
        accepted = ensure(spark, sf_dir, split="batch").join(kept, "doc_id", "left_semi")
        corpus.unionByName(accepted).write.parquet(tmp)

    ensure_artifact(path, build, spark=spark, force=force)
    return path


def _merge_inventory(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """The registered measure-the-build row of ``kind``'s accept step: it
    republishes the merged generation on every call, then reads it back
    from the published files as a per-origin inventory (origin, n_docs,
    n_distinct_<key>, min_doc_id, max_doc_id). 'batch' rows are the
    accepted docs that have a row in the kind's batch table; 'corpus'
    rows are the corpus split."""
    acc = _ACCEPTED[kind]
    path = ensure_merged_corpus(spark, sf_dir, kind, force=True)
    origin = F.when(_in_batch(), F.lit("batch")).otherwise(F.lit("corpus"))
    rows = spark.read.parquet(path).select(origin.alias("origin"), "doc_id", F.expr(acc.key))
    return (
        rows.groupBy("origin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(rows.columns[-1]).alias(acc.column),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("origin")
    )


def corpus_hash_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _merge_inventory(spark, sf_dir, "content_hashes")


def corpus_signature_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _merge_inventory(spark, sf_dir, "minhash_sigs")


def corpus_fingerprint_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _merge_inventory(spark, sf_dir, "simhash_fp")


def _merged_rows_cte(name: str, src: str, alias: str, cols: list[str]) -> str:
    """Oracle CTE ``name``: the corpus split of relation ``src`` plus its
    rows for the kept docs of ``disposition``."""
    sel = ", ".join(f"{alias}.{c}" for c in ["doc_id", *cols])
    return f"""{name} AS (
  SELECT {sel} FROM {src} {alias}
  WHERE {alias}.doc_id % {INCREMENT_MOD} <> {INCREMENT_MOD - 1}
  UNION ALL
  SELECT {sel} FROM {src} {alias}
  JOIN disposition d ON d.doc_id = {alias}.doc_id AND d.stage = 'kept')"""


def _merge_inventory_sql(kind: str, ctes: str, rel: str, key: str) -> str:
    """Inventory oracle of ``kind``'s accept step: the chained disposition
    replayed from text, then ``ctes`` defining the merged relation
    ``rel``, then the per-origin aggregate with ``key`` as the distinct
    key. The oracle recomputes every fingerprint from text and never
    reads an artifact."""
    return (
        _curation_ctes()
        + ",\n"
        + ctes
        + f"""
SELECT CASE WHEN doc_id % {INCREMENT_MOD} = {INCREMENT_MOD - 1}
            THEN 'batch' ELSE 'corpus' END AS origin,
       COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT {key}) AS BIGINT) AS {_ACCEPTED[kind].column},
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM {rel} GROUP BY 1 ORDER BY origin"""
    )


# unhex is injective, so the hash oracle's distinct count over hex strings
# agrees with the engine's over binary hashes
CORPUS_HASH_MERGE_SQL = _merge_inventory_sql(
    "content_hashes", _merged_hash_cte(), "merged_h", "content_hash"
)
CORPUS_SIGNATURE_MERGE_SQL = _merge_inventory_sql(
    "minhash_sigs",
    _merged_rows_cte("merged", "sig", "s", _MH_COLS),
    "merged",
    " || '|' || ".join(_MH_COLS),
)
# the fingerprint replay is suffixed so its CTE names cannot collide with
# the disposition chain's MinHash core
CORPUS_FINGERPRINT_MERGE_SQL = _merge_inventory_sql(
    "simhash_fp",
    _simhash_ctes(sfx="2").rstrip()
    + ",\n"
    + _merged_rows_cte("merged_fp", "fp2", "f", ["simhash_hi", "simhash_lo"]),
    "merged_fp",
    "CAST(simhash_hi AS VARCHAR) || '|' || CAST(simhash_lo AS VARCHAR)",
)


# ------------------------------------------------- near-dup cluster assignment
# (CLUSTER_MIN_EST_JACCARD is defined above the incremental section so the
# incremental tier's threshold can be ASSIGNED from it — round-11 ADVICE.)
MAX_CC_ITERATIONS = 20
# Adaptive CC strategy gate: an edge set at or below this many rows is
# solved driver-side (union-find over collected edges — the same
# min-reachable-label result, pinned equal by tests), above it the
# distributed pointer-doubling loop runs. The same size-based strategy
# switch a broadcast join makes: the near-dup edge graph of a curated
# corpus is typically a sparse set of small cliques (orders of magnitude
# smaller than the corpus), so most runs skip ~5 Spark jobs per loop
# round; a 100 TB corpus whose graph exceeds the gate takes the
# distributed path automatically. 200k edges ≈ a few MB on the driver —
# comfortably inside the same budget as a broadcast table.
CC_DRIVER_MAX_EDGES = 200_000


def _neardup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted (doc_id, cluster_id) labels — connected components over
    strong LSH candidate pairs (est_jaccard ≥ 0.5); every document gets the
    minimum doc_id reachable through the near-dup graph as its cluster_id
    (singletons keep their own id). The keep-one-per-cluster rule is then a
    trivial ``doc_id == cluster_id`` filter.

    Algorithm: min-label propagation with POINTER DOUBLING to a fixpoint
    over the EDGE GRAPH'S VERTEX SET ONLY — documents without a strong
    near-dup edge are singletons by definition and never enter a
    propagation round, so each round's join/aggregate is O(|near-dup
    vertices|), a small fraction of the corpus (the final corpus-wide
    left-join fills in singleton labels once). Each round alternates one
    neighbor-min propagation with a shortcut step L(v) ← L(L(v)) (a
    self-join on the label column) that halves label-path lengths:
    O(log n) rounds even for a power-law giant component, vs O(diameter)
    for plain propagation — the shape that holds at 100 TB, promoted to
    the registered query in round 5 (previously a parallel unregistered
    variant). On the small-clique graphs of a near-dup corpus both
    converge in 2-3 rounds, so the shortcut's extra join costs nothing
    measurable. ``localCheckpoint`` truncates lineage so plans stay flat.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = _minhash_pairs_unsorted(spark, sf_dir).filter(
        F.col("est_jaccard") >= CLUSTER_MIN_EST_JACCARD
    )
    # Adaptive strategy switch: count the UNDIRECTED pair stream once
    # (persist populates the cache during the count, so the gate pays ONE
    # execution of the LSH pair join, not one per downstream action). A
    # driver-small graph is solved exactly by union-find over the
    # collected pairs — union is symmetric, so the driver path needs
    # neither the direction-doubling explode nor a checkpoint
    # materialization job (round 7: the eager checkpoint ran the join
    # once just to re-read it for the collect). The distributed loop
    # below is the at-scale path; both produce min-reachable-doc_id
    # labels (pinned equal in tests/test_profiling.py).
    pairs = pairs.persist()
    try:
        n_edges = 2 * pairs.count()
        if n_edges <= CC_DRIVER_MAX_EDGES:
            return _labels_driver_side(spark, docs, pairs)
        # Both edge directions from ONE pass over the CACHED pair stream
        # (explode of a 2-struct array); localCheckpoint truncates lineage
        # for the iterative loop (checkpoint-inherent: loop state).
        edges = (
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(F.col("d1").alias("src"), F.col("d2").alias("dst")),
                        F.struct(F.col("d2").alias("src"), F.col("d1").alias("dst")),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .localCheckpoint(eager=True)
        )
    finally:
        pairs.unpersist()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(MAX_CC_ITERATIONS):
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.col("cluster_id").alias("old_cid"),
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # shortcut: follow the label's label (path halving). old_cid rides
        # through the checkpoint so convergence is a filter-count over
        # settled blocks — not an extra join of consecutive label tables.
        parent = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_cluster")
        )
        shortcut = (
            stepped.join(parent, stepped.cluster_id == parent.p_id, "left")
            .select(
                "doc_id",
                "old_cid",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("p_cluster"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = shortcut.filter(F.col("cluster_id") != F.col("old_cid")).count()
        labels = shortcut.select("doc_id", "cluster_id")
        if changed == 0:
            break
    else:
        # Silent non-convergence would hand wrong cluster labels to every
        # downstream consumer (training_corpus_stats) — fail loudly instead.
        raise RuntimeError(
            f"connected components did not converge in {MAX_CC_ITERATIONS} rounds "
            f"({changed} labels still changing); raise MAX_CC_ITERATIONS"
        )
    # singletons (no edges) keep their own id — one corpus-wide left join,
    # outside the loop
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id")
    )


def union_find_min_labels(edge_pairs) -> dict:
    """Pure union-find over an iterable of (a, b) pairs → {vertex:
    min-reachable-vertex}. Union-by-attachment-to-min keeps every root
    the component minimum (invariant: each root is its component's min;
    merging attaches the larger root under the smaller, preserving it),
    so no relabel pass is needed; path compression keeps finds cheap.
    Property-tested against brute-force reachability in
    tests/test_dedup.py."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {x: find(x) for x in parent}


def _labels_driver_side(
    spark: SparkSession, docs: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Exact CC labels for a DRIVER-SMALL edge graph: union-find over the
    collected UNDIRECTED (d1, d2) pairs (union is symmetric — no need to
    materialize both directions), then one corpus-wide left join fills
    singletons — identical output contract to the distributed loop
    (cluster_id = min doc_id reachable through the graph). The collect is
    gated by CC_DRIVER_MAX_EDGES, never corpus-scale.

    The labels are an Arrow-backed local relation built from a pyarrow
    table: a plain-list createDataFrame is a Python RDD whose tasks start
    Python workers, and so is an EMPTY pandas frame (PySpark sends only a
    non-empty one through Arrow)."""
    import pyarrow as pa

    labels_map = union_find_min_labels(
        (row["d1"], row["d2"]) for row in pairs.select("d1", "d2").collect()
    )
    labels = spark.createDataFrame(
        pa.table(
            {
                "doc_id": pa.array(list(labels_map), pa.int64()),
                "cluster_id": pa.array(list(labels_map.values()), pa.int64()),
            }
        ),
        schema="doc_id long, cluster_id long",
    )
    # broadcast(labels): the CC_DRIVER_MAX_EDGES gate that admitted this
    # path IS the broadcast bound, so the corpus is never shuffled to
    # attach a label table that fits on the driver.
    return docs.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id")
    )


def ensure_neardup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed MATERIALIZED cluster-label table (doc_id, cluster_id) —
    the serving split of the dedup pipeline: ``neardup_clusters`` is the
    honest build job (it always runs the LSH join + connected components,
    like ``ivf_index_build`` always rebuilds the index), while downstream
    CONSUMERS (``training_corpus_stats`` and anything else that joins the
    corpus against its cluster assignment) read this parquet instead of
    re-running clustering per query. At 100 TB recomputing CC for every
    downstream aggregation would repeat the corpus-scale pair join and the
    iterative label loop; the label table is ~16 B/doc, built once per
    corpus content, and every artifact-staleness guarantee (corpus
    fingerprint + params token + atomic publish, artifacts.py) applies.

    The params token carries every constant the labels depend on: the
    signature chain's (K, shingle width), the LSH band LAYOUT (bands ×
    rows — the same K split 6×2 instead of 4×3 yields a different
    candidate-pair set and therefore different cluster labels) and the
    strong-edge threshold.
    """
    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_df

    return artifact_df(
        neardup_labels_path(spark, sf_dir),
        lambda tmp: _neardup_labels(spark, sf_dir).write.parquet(tmp),
        spark,
    )


def neardup_labels_path(spark: SparkSession, sf_dir: str) -> str:
    """Artifact location of the cluster-label table — exposed so tests and
    ops tooling derive it from ONE place (the same rule as
    ``scale_utils.bucketed_artifact_paths``; the round-8 review caught a
    test watching a hand-copied pre-review token after the production
    token gained the band layout)."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import artifact_path

    ptag = (
        f"k{MINHASH_K}b{LSH_BANDS}r{LSH_ROWS}n{SHINGLE_N}"
        f"j{int(CLUSTER_MIN_EST_JACCARD * 100)}"
    )
    return artifact_path("neardup_labels", sf_dir, "documents", params=ptag, spark=spark)


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`_neardup_labels` with the deterministic
    presentation sort (downstream consumers use the unsorted labels — a
    global sort mid-chain is a pure range-shuffle tax)."""
    return _neardup_labels(spark, sf_dir).orderBy("doc_id")


def _cluster_ctes() -> str:
    """CTE chain ending in ``clusters(doc_id, cluster_id)``."""
    return (
        _minhash_pairs_ctes()
        + f""",
strong AS (SELECT d1, d2 FROM pairs WHERE est_jaccard >= {CLUSTER_MIN_EST_JACCARD}),
edges AS (SELECT d1 AS src, d2 AS dst FROM strong
          UNION ALL SELECT d2, d1 FROM strong),
clusters AS (
  WITH RECURSIVE rr(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, rr.lbl FROM edges e JOIN rr ON e.src = rr.node)
  SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM rr GROUP BY node)
"""
    )


NEARDUP_CLUSTERS_SQL = _cluster_ctes() + "SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id"


# ------------------------------------------------- fuzzy prefix (edit distance)
FUZZY_BLOCK_CHARS = 8
FUZZY_PREFIX_CHARS = 40
FUZZY_MAX_DIST = 10
# Blocks (identical first-8-chars groups) larger than this are excluded from
# pairing: a hot prefix ("the ... " boilerplate) would otherwise pair
# quadratically. Mass-duplicated prefixes above the cap are boilerplate by
# definition and their exact copies are collapsed by the exact tier.
FUZZY_MAX_BLOCK = 100


def dedup_fuzzy_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup tier: documents whose 40-char prefixes are
    within Levenshtein distance 10, candidate-blocked by identical first
    8 chars so the self-join is an equi-join on the block key (classic
    blocking — at scale, multiple blocking keys raise recall). Blocks
    larger than FUZZY_MAX_BLOCK docs are dropped before pairing, bounding
    worst-case fan-out to O(cap²) per block. Both engines implement
    classic Levenshtein, so the distances hash-match."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, FUZZY_PREFIX_CHARS).alias("prefix"),
        F.substring("text", 1, FUZZY_BLOCK_CHARS).alias("blk"),
    )
    hot = (
        docs.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > FUZZY_MAX_BLOCK)
        .select("blk")
    )
    kept = docs.join(hot, "blk", "left_anti")
    # spread on the STREAMED (a) side only (guide §2.5/§2.6, r15
    # optimization): the documents source is a single parquet split at
    # test SFs, so the blocked pair join + Levenshtein — this row's
    # dominant stage (0.60 s CPU on 1 task) — serialized on one core;
    # measured 0.34x with results pinned bit-equal. Scale-guarded no-op
    # on a real corpus (catalog.spread); the b side is the broadcast
    # build.
    from kafka_connect_storage_cloud_formats_spark.catalog import spread

    a = spread(kept).alias("a")
    b = kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
        .orderBy("d1", "d2")
    )


FUZZY_PREFIX_SQL = f"""
WITH d0 AS (
  SELECT doc_id, substr(text, 1, {FUZZY_PREFIX_CHARS}) AS prefix,
         substr(text, 1, {FUZZY_BLOCK_CHARS}) AS blk
  FROM documents),
hot AS (SELECT blk FROM d0 GROUP BY blk HAVING COUNT(*) > {FUZZY_MAX_BLOCK}),
d AS (SELECT * FROM d0 WHERE blk NOT IN (SELECT blk FROM hot))
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_dist
FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= {FUZZY_MAX_DIST}
ORDER BY d1, d2
"""


DEDUP_QUERIES = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_incremental": (dedup_incremental, DEDUP_INCREMENTAL_SQL),
    "dedup_canonical": (dedup_canonical, DEDUP_CANONICAL_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, NGRAM_JACCARD_SQL),
    # round 13: exact-substring duplication mass (Lee et al. 2022's
    # ExactSubstr signal) — k-token runs appearing in >= 2 documents
    "dedup_repeated_ngrams": (dedup_repeated_ngrams, REPEATED_NGRAMS_SQL),
    # ... and the scrub that REMOVES those spans, priced per language
    # (one _covered_positions definition with the text rewriter)
    "scrub_repeated_ngrams": (scrub_repeated_ngrams, SCRUB_REPEATED_NGRAMS_SQL),
    # round 14: maximal duplicated-run lengths (Lee et al.'s span stats —
    # how LONG the duplicated runs are, which fixed-k mass cannot say)
    "repeated_ngram_spans": (repeated_ngram_spans, REPEATED_NGRAM_SPANS_SQL),
    # ... and the keep-one-copy pricing (Lee et al.'s own rewrite policy;
    # the remove-all row above is the boilerplate-scrub posture)
    "scrub_repeated_ngrams_keepfirst": (
        scrub_repeated_ngrams_keepfirst,
        SCRUB_KEEPFIRST_SQL,
    ),
    "minhash_signatures": (minhash_signatures, MINHASH_SIGNATURES_SQL),
    "minhash_lsh_pairs": (minhash_lsh_pairs, MINHASH_LSH_SQL),
    "neardup_incremental": (neardup_incremental, NEARDUP_INCREMENTAL_SQL),
    "curation_drop_report": (curation_drop_report, CURATION_DROP_REPORT_SQL),
    # the second drop of the recurring lifecycle: same chain, classified
    # against the MERGED generations (drop 1's accept step) — certifies
    # "judged against the corpus as accepted so far" as a hash-gated fact
    "curation_second_drop_report": (
        curation_second_drop_report,
        CURATION_SECOND_DROP_REPORT_SQL,
    ),
    "corpus_hash_merge": (corpus_hash_merge, CORPUS_HASH_MERGE_SQL),
    "corpus_signature_merge": (corpus_signature_merge, CORPUS_SIGNATURE_MERGE_SQL),
    "neardup_incremental_simhash": (
        neardup_incremental_simhash,
        NEARDUP_INCREMENTAL_SIMHASH_SQL,
    ),
    "corpus_fingerprint_merge": (
        corpus_fingerprint_merge,
        CORPUS_FINGERPRINT_MERGE_SQL,
    ),
    "simhash_fingerprints": (simhash_fingerprints, SIMHASH_SQL),
    "simhash_near_pairs": (simhash_near_pairs, SIMHASH_PAIRS_SQL),
    "neardup_clusters": (neardup_clusters, NEARDUP_CLUSTERS_SQL),
    "dedup_fuzzy_prefix": (dedup_fuzzy_prefix, FUZZY_PREFIX_SQL),
}
