"""Character n-gram generation (operator P2).

Reference semantics: ``/root/reference/polyfuzz/models/_tfidf.py:120-139``
(`_create_ngrams`): for each n in [n_from, n_to] (both inclusive) emit every
sliding character window; optionally drop n-grams containing a space.

Implemented as pure Spark SQL higher-order functions
(``transform(sequence(...), i -> substring(s, i, n))``) — JVM-side,
codegen'd, no Python UDF. ``pyspark.ml.feature.NGram`` is word-level and
therefore NOT equivalent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def char_ngrams(
    col: Column | str,
    n_from: int = 3,
    n_to: int = 3,
    remove_space_ngrams: bool = True,
) -> Column:
    """array<string> of character n-grams of ``col`` for each n in range.

    NB: ``sequence(1, x)`` with x < 1 generates a DESCENDING sequence in
    Spark, so short strings are guarded with ``when(length >= n)``.
    """
    c = F.col(col) if isinstance(col, str) else col

    def window_fn(n: int):
        # NB: the lambda must be unary — F.transform passes (element, index)
        # to two-argument callables, which would clobber a default arg.
        return lambda i: c.substr(i, F.lit(n))

    parts = []
    for n in range(n_from, n_to + 1):
        grams = F.when(
            F.length(c) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(c) - F.lit(n - 1)), window_fn(n)
            ),
        ).otherwise(F.array().cast("array<string>"))
        parts.append(grams)
    out = parts[0] if len(parts) == 1 else F.concat(*parts)
    if remove_space_ngrams:
        out = F.filter(out, lambda g: ~g.contains(" "))
    return out
