"""Blocked candidate generation: banded MinHash LSH (operator J1's scale
path; north-rule blocking stage).

The reference compares all pairs (dense/sparse matrix product,
``/root/reference/polyfuzz/models/_utils.py:73-102``) — quadratic and
impossible at corpus scale. Here candidates come from banded MinHash over
the same char n-gram shingles the scoring stage uses:

    shingles → num_hashes MinHash minima → b bands × r rows → band_key
    (all per document, map-side: ``mapside.minhash_bands_mapside``)
    → self/two-sided equi-join on (band, band_key) → distinct pairs
    (``mapside.candidates_from_bands``)

Both sides band with the ONE hash family (same ``cfg``, ``num_hashes``,
``bands`` and ``seed``), so their band keys are comparable. Band keys are
hashes, so the join key space is uniform EXCEPT for genuinely hot buckets
(e.g. thousands of files sharing a license-header shingle set). Those are
handled explicitly: buckets larger than ``max_bucket_size`` are dropped
(stop-band heuristic — documented recall tradeoff) or salted BEFORE the
join, which bounds the worst-case join fan-out at bucket_cap² per band
instead of n².

Scoring afterwards is exact (``cosine_join.score_candidates_packed`` over
packed TF-IDF vectors, a pair scorer, or an exact Jaccard verify), so LSH
only affects recall, never precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.milli import milli
from .mapside import candidates_from_bands, minhash_bands_mapside
from .tfidf import TfidfConfig


def minhash_candidates(
    from_df: DataFrame,
    to_df: DataFrame | None = None,
    key_col: str = "key",
    cfg: TfidfConfig | None = None,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 2000,
    seed: int = 42,
    min_shared_bands: int = 1,
    hot_bucket: str = "drop",
    max_salt: int = 16,
    pair_budget: int | None = None,
    budget_stats: dict | None = None,
) -> DataFrame:
    """Distinct (from_id, to_id) candidate pairs sharing ≥ min_shared_bands
    LSH bands.

    ``pair_budget`` / ``budget_stats``: the measured fan-out gate of
    ``mapside.candidates_from_bands``, for callers whose knobs were
    AUTO-resolved (explicit knobs are a contract: no gate).

    Self mode (to_df None): both orientations kept, diagonal excluded —
    matching the downstream per-from top-k semantics.

    ``min_shared_bands``: with b bands of r rows, P(≥k bands agree) falls
    much faster in Jaccard than P(≥1) — e.g. at b=16, r=4 a j=0.3 pair has
    12% single-band but 0.7% two-band probability, while a j=0.8 pair keeps
    99.97% ≥2-band recall. Use 2 on corpora with a shared base vocabulary
    (code keywords) where j≈0.3 impostor pairs are abundant; the candidate
    count drops ~20× with negligible recall loss above j≈0.75.

    ``hot_bucket="salt"`` replaces the drop-members cap with the
    recall-preserving salted grid join (``mapside._salted_sides``) up to
    cap×``max_salt`` members per bucket.

    Cleaned-text configs with n ≤ 8 hash exact byte windows, raw-shingle
    configs (``clean_string=False``, the dedup contract) each doc's
    packed distinct grams — one batched kernel, one hash family."""

    def bands_of(docs: DataFrame) -> DataFrame:
        return minhash_bands_mapside(
            docs, key_col, cfg, num_hashes=num_hashes, bands=bands,
            seed=seed,
        )

    return candidates_from_bands(
        bands_of(from_df), None if to_df is None else bands_of(to_df),
        max_bucket_size=max_bucket_size, min_shared_bands=min_shared_bands,
        hot_bucket=hot_bucket, max_salt=max_salt,
        pair_budget=pair_budget, budget_stats=budget_stats,
    )


def lsh_flanks(target_jaccard: float) -> tuple[float, float]:
    """The flank points ``t ∓ 0.1`` of ``lsh_parameter_plan``, computed in
    exact decimal and rounded once to a double — what the DuckDB oracle's
    DECIMAL literal arithmetic gives. Double subtraction would give
    0.8 − 0.1 = 0.7000000000000001, a different input to the S-curve."""
    from decimal import Decimal

    t, step = Decimal(repr(float(target_jaccard))), Decimal("0.1")
    return float(t - step), float(t + step)


def lsh_parameter_plan(
    spark,
    num_hashes: int = 64,
    target_jaccard: float = 0.8,
) -> DataFrame:
    """Principled banding design (Leskovec/Rajaraman/Ullman ch.3): for
    every (bands b, rows r) factorization of ``num_hashes``, the S-curve
    collision probability p(s) = 1 − (1 − s^r)^b evaluated at the target
    similarity, at ±0.1 around it (the false-negative / false-positive
    flanks), and the curve's threshold (1/b)^(1/r) — the table a caller
    reads to PICK b and r instead of guessing (the ER pipeline's
    b=16, r=4 at t≈0.5 came from exactly this curve). Pure closed-form
    arithmetic over a ≤-d(num_hashes)-row frame — no data touched; milli
    quantization for engine-exact comparison."""
    divisors = [
        b for b in range(1, num_hashes + 1) if num_hashes % b == 0
    ]
    rows = spark.createDataFrame(
        [(b, num_hashes // b) for b in divisors], "bands int, rows int"
    )
    t = F.lit(float(target_jaccard))
    below, above = lsh_flanks(target_jaccard)
    p_at = lambda s: (
        F.lit(1.0)
        - F.pow(
            F.lit(1.0) - F.pow(s, F.col("rows").cast("double")),
            F.col("bands").cast("double"),
        )
    )
    return rows.select(
        "bands",
        "rows",
        milli(F.pow(
            F.lit(1.0) / F.col("bands").cast("double"),
            F.lit(1.0) / F.col("rows").cast("double"),
        )).alias("curve_threshold_milli"),
        milli(p_at(t)).alias("p_at_target_milli"),
        milli(p_at(F.lit(below))).alias("p_below_milli"),
        milli(p_at(F.lit(above))).alias("p_above_milli"),
    )
