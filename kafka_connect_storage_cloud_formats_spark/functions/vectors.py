"""Vector functions over ``array<float>`` embedding columns.

Pure ``pyspark.sql.functions`` higher-order functions: the arithmetic runs
JVM-side in whole-stage codegen, elementwise in index order (sequential
left-to-right accumulation) — which makes results bit-reproducible across
engines that do the same (DuckDB's list_dot_product), so similarity results
can be oracle-checked exactly.

Scale: these are per-row expressions (no shuffle). A brute-force top-k is a
broadcast-join + window; the IVF variant in operators/similarity.py bounds
the candidate set per query for the 100 TB path.
"""

# NOTE: no `from __future__ import annotations` here — pandas_udf reads real
# type hints at definition time; stringified annotations break inference.
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
# (to_double_array / l2_norm / cosine wrappers were removed round 9: no
# caller anywhere in the package or tests — every operator composes its
# cosine from dot()/dot_vec() with precomputed norms, and unused exports
# in the bit-exactness-critical module are ungated drift surface.)


# --------------------------------------------------------- vectorized (Arrow)
# The HOF versions above are JVM-side but interpreted (higher-order lambdas
# skip whole-stage codegen), and fully unrolled flat expressions blow past
# Janino's method-size limits — compile time becomes the bottleneck and is
# cache-nondeterministic. The production path for vector math is therefore a
# Pandas UDF: Arrow batches, NumPy column-at-a-time ops.
#
# Bit-exactness contract: accumulation loops run PER DIMENSION over the whole
# batch (acc starts at 0.0, then acc += a[:,i]*b[:,i] in index order) — the
# same left-associated IEEE-754 chain as the oracle SQL's explicit
# `0.0 + t1 + ... + tN`, so doubles match to the last ulp. np.sqrt is
# correctly rounded, matching JVM Math.sqrt and DuckDB sqrt.

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType


def _stack64(s: pd.Series) -> np.ndarray:
    """Series of float32 arrays → (n, dim) float64 matrix (exact cast).

    NULL or ragged-length embeddings fail LOUDLY with the actual defect
    named: np.stack's bare "all input arrays must have the same shape"
    (round-9 review) told the operator nothing about which row class
    broke — and the Arrow paths cannot silently NULL-propagate like the
    interpreted HOF ``dot`` does, so a corpus with NULL vectors must be
    cleaned (or filtered) upstream by contract."""
    if len(s) == 0:
        return np.zeros((0, 1), dtype=np.float64)
    vals = s.to_numpy()
    nulls = sum(1 for v in vals if v is None)
    if nulls:
        raise ValueError(
            f"{nulls} NULL embedding(s) in batch: the vectorized kernels "
            "require non-null fixed-dim vectors — filter or impute upstream"
        )
    lens = {len(v) for v in vals}
    if len(lens) > 1:
        raise ValueError(
            f"ragged embedding lengths in batch: {sorted(lens)} — the "
            "corpus contract is one fixed dimension"
        )
    return np.stack(vals).astype(np.float64)


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i in range(a.shape[1]):
        acc += a[:, i] * b[:, i]
    return acc


def _dot_vec_fn(a: pd.Series, b: pd.Series) -> pd.Series:
    A, B = _stack64(a), _stack64(b)
    return pd.Series(_seq_dot(A, B))


dot_vec = pandas_udf(DoubleType())(_dot_vec_fn)

# Single-evaluation variant for filter-on-derived-column sites (r15
# optimization, guide §4.4): when a filter references the UDF's output
# column, the optimizer pushes the filter below the projection and
# re-evaluates the kernel — two ArrowEvalPython nodes per call site.
# Marking the expression non-deterministic forbids the duplication (the
# kernel itself is pure; results are bit-identical). A SEPARATE UDF
# object, not `dot_vec.asNondeterministic()`, which would mutate the
# shared one and silently block filter pushdown at every other call
# site (e.g. the `% QUERY_MOD` query-subset filters must keep reaching
# the scan below the corpus-side norm projection).
dot_vec_once = pandas_udf(DoubleType())(_dot_vec_fn).asNondeterministic()


def require_nonzero_norms(n: np.ndarray, what: str) -> np.ndarray:
    """THE zero-norm corpus-contract guard (one definition — round-10
    second review; the same one-copy rule as ``_stack64``'s NULL/ragged
    guards it sits beside): cosine similarity is undefined on a zero
    vector, and the downstream division's rendering DIVERGES between
    engines (Spark ANSI raises / non-ANSI NaN; DuckDB NULL) — on the
    ranking tiers that silently breaks the oracle hash gate, so the
    contract refuses loudly and uniformly instead. Used by
    ``l2_norm_vec`` (every ``_with_norm`` corpus side, the cell-index
    builds included), the kNN kernel's own norm computations and the
    routing kernel (similarity._route); a probe that reads an
    index-STORED norm enforces the same contract in pure JVM with a
    ``raise_error`` branch (similarity._stored_norm_guard). The k-means
    TRAINER deliberately tolerates zero vectors (norm-1 update,
    deterministic all-tie assignment)."""
    if (n == 0.0).any():
        raise ValueError(
            f"{int((n == 0.0).sum())} zero-norm {what}: cosine similarity "
            "is undefined on zero vectors — filter or impute upstream "
            "(corpus contract)"
        )
    return n


def _l2_norm_vec_fn(a: pd.Series) -> pd.Series:
    A = _stack64(a)
    return pd.Series(require_nonzero_norms(np.sqrt(_seq_dot(A, A)), "embedding(s) in batch"))


l2_norm_vec = pandas_udf(DoubleType())(_l2_norm_vec_fn)

# See dot_vec_once: same §4.4 single-evaluation contract, same reason
# for being a separate UDF object.
l2_norm_vec_once = pandas_udf(DoubleType())(_l2_norm_vec_fn).asNondeterministic()


def hyperplane_signature_udf(planes):
    """Factory: Pandas UDF computing an n-bit sign signature (bit j set iff
    dot(v, planes[j]) > 0), with the same per-dimension left-associated
    accumulation as the oracle SQL. At most 63 planes: bit 63 would flip
    the LongType sign and numpy shifts ≥64 wrap (shift % 64), silently
    merging unrelated LSH buckets (round-9 review) — a wider family needs
    an array-of-longs signature."""
    if len(planes) > 63:
        raise ValueError(
            f"{len(planes)} planes exceed the 63-bit long-signature bound"
        )
    W = np.array(planes, dtype=np.float64)

    @pandas_udf(LongType())
    def sig_udf(emb: pd.Series) -> pd.Series:
        E = _stack64(emb)
        sig = np.zeros(E.shape[0], dtype=np.int64)
        for j in range(W.shape[0]):
            acc = np.zeros(E.shape[0], dtype=np.float64)
            for i in range(E.shape[1]):
                acc += E[:, i] * W[j, i]
            sig |= (acc > 0).astype(np.int64) << j
        return pd.Series(sig)

    return sig_udf
