"""Integer milli-units: the one quantization policy of the engine, its
kernels and its DuckDB oracles (PolyFuzz reports similarities at 3
decimals and filters on ``min_similarity``).

Each rule is written once per engine — Spark Column, DuckDB ``_sql`` twin,
numpy — as the same IEEE-754 operation sequence, so all three agree bit for
bit on equal double inputs (no engine's ``round`` enters):

- score ``floor(x * 1000 + 0.5)`` for double scores (cosines, composites,
  probabilities): half-up on the stored double, 0.0625 → 63;
- count ratio ``floor(num * 1000.0 / den + 0.5)``, NULL when den = 0:
  exact half-up of num/den for counts below 2⁵³/1000 (201/400 → 503);
- threshold ``threshold_milli(t)``: the score rule applied to t; a row
  passes ``min_similarity`` t iff its milli ≥ it (0.2345 → 235, where
  half-to-even ``round`` and truncating ``int`` give 234).

Exact integer floor fractions (``(1000 * a) div b``) and the centi/micro
units are other quantities and stay with their own formulas.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def to_milli(x):
    """Score rule, numpy (int64)."""
    return np.floor(np.asarray(x, dtype=np.float64) * 1000 + 0.5).astype(
        np.int64
    )


def milli(col: Column | str) -> Column:
    """Score rule, Spark (bigint)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c.cast("double") * 1000 + F.lit(0.5)).cast("bigint")


def milli_sql(expr: str) -> str:
    return f"CAST(floor(CAST({expr} AS DOUBLE) * 1000 + 0.5) AS BIGINT)"


def ratio_to_milli(num, den):
    """Count-ratio rule, numpy (int64); numpy has no NULL, so den ≠ 0."""
    num = np.asarray(num, dtype=np.float64)
    return np.floor(num * 1000.0 / den + 0.5).astype(np.int64)


def ratio_milli(num: Column | str, den: Column | str) -> Column:
    """Count-ratio rule, Spark (bigint, NULL when den = 0)."""
    n = F.col(num) if isinstance(num, str) else num
    d = F.col(den) if isinstance(den, str) else den
    return F.when(
        d != 0,
        F.floor(n.cast("double") * 1000.0 / d.cast("double") + F.lit(0.5)),
    ).cast("bigint")


def ratio_milli_sql(num: str, den: str) -> str:
    return (
        f"CASE WHEN ({den}) <> 0 THEN CAST(floor(CAST({num} AS DOUBLE) "
        f"* 1000.0 / CAST({den} AS DOUBLE) + 0.5) AS BIGINT) END"
    )


def threshold_milli(t: float) -> int:
    """Threshold rule: keep rows whose milli ≥ this for min_similarity t."""
    return int(to_milli(t))
