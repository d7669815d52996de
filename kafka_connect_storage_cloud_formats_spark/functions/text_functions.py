"""Text primitives: tokenization, shingling, deterministic hashing.

All built from ``pyspark.sql.functions`` (JVM-side, codegen'd) — no Python
UDFs in these hot paths. md5 hex strings are the engine's only decision
hash: DuckDB reproduces them exactly, so every dedup decision the engine
makes is one the oracle gate can certify.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A tiny stopword list over the corpus vocabulary (deterministic, mirrored in
# the oracle SQL verbatim).
STOPWORDS = ("the", "a", "of", "and", "to")


def tokens(text: Column | str) -> Column:
    """Whitespace tokens."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """OCCURRENCE-level word n-grams as an array<string> — one gram per
    start position, duplicates preserved (the repeated-substring MASS
    signal needs occurrences; :func:`word_shingles` is the distinct view
    of this same chain). A document with fewer than ``n`` tokens yields
    the empty array, a NULL document yields NULL (``size(NULL)`` is
    -1/NULL, which would silently take the empty-array branch — SQL
    oracles render NULL for NULL input, so the NULL case must propagate,
    not collapse to []; round-4 ADVICE).

    Linear per document: the grams are zipped from ``n`` shifted slices of
    the token array, ``slice(w, j, m)`` for ``j = 1..n`` with ``m = size(w)
    - (n - 1)`` grams, so each token is copied ``n`` times (a ``slice(w, i,
    n)`` per gram inside ``transform`` re-ran the tokenizer once per gram:
    O(tokens²)). The token array is bound once, as the lambda variable of a
    ``transform`` over the one-element ``array(split(text))``, so the
    tokenizer runs once per document. All in one codegen stage — no
    explode/re-group round trip. The short-doc case MUST stay a ``when``
    branch: for ``size(w) < n`` the length ``m`` is not positive, and
    ``slice`` with a negative length is a runtime error that would crash
    the whole job on any sub-``n``-token document while the SQL oracles'
    ``range(1, 1)`` correctly emit nothing. ``concat_ws`` keeps empty
    tokens (a double space) exactly as ``array_join`` did.
    """
    c = F.col(text) if isinstance(text, str) else text

    def grams(w: Column) -> Column:
        m = F.size(w) - (n - 1)
        shingled = F.transform(
            F.arrays_zip(*[F.slice(w, j, m) for j in range(1, n + 1)]),
            lambda z: F.concat_ws(" ", *[z[str(j)] for j in range(n)]),
        )
        return (
            F.when(w.isNull(), F.lit(None).cast("array<string>"))
            .when(F.size(w) >= n, shingled)
            .otherwise(F.array().cast("array<string>"))
        )

    # THE tokenizer — one definition (round-9 review)
    return F.transform(F.array(tokens(c)), grams)[0]


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> — the
    ``array_distinct`` view of :func:`word_ngrams` (same expression tree
    underneath, so the round-13 split is plan-identical for every
    existing consumer); NULL/short-doc semantics documented there."""
    return F.array_distinct(word_ngrams(text, n))


def md5_long(col: Column, bits: int = 32) -> Column:
    """First ``bits`` bits of md5 as a non-negative long (hex → decimal).

    ``bits`` must be a multiple of 4 (hex-digit granularity — anything
    else silently truncated before this guard) and at most 60: 16 hex
    digits can exceed BIGINT, and under the engine's ANSI sessions the
    cast then ABORTS the job for ~half of all inputs rather than wrapping
    (round-9 review, empirically confirmed at bits=64)."""
    if bits % 4 or not 0 < bits <= 60:
        raise ValueError(
            f"bits must be a positive multiple of 4, <= 60 (got {bits}); "
            "for 64-bit hashes use xxhash64"
        )
    return F.conv(F.substring(F.md5(col), 1, bits // 4), 16, 10).cast("long")
