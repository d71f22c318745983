"""Blocked candidate generation: MinHash signatures + banded LSH join
(operator J1's scale path; north-rule blocking stage).

The reference compares all pairs (dense/sparse matrix product,
``/root/reference/polyfuzz/models/_utils.py:73-102``) — quadratic and
impossible at corpus scale. Here candidates come from banded MinHash over
the same char n-gram shingles the TF-IDF stage uses:

    shingles → 64 MinHash values (one groupBy, 64 map-side-combinable mins)
    → 16 bands × 4 rows → band_key = hash(band slice)
    → self/two-sided equi-join on band_key → distinct candidate pairs

Everything is JVM-side (xxhash64 + slice + groupBy); no UDF. Band keys are
hashes, so the join key space is uniform EXCEPT for genuinely hot buckets
(e.g. thousands of files sharing a license-header shingle set). Those are
handled explicitly: buckets larger than ``max_bucket_size`` are dropped
(stop-band heuristic — documented recall tradeoff) BEFORE the join, which
bounds the worst-case join fan-out at bucket_cap² per band instead of n².

Scoring afterwards is exact (``cosine_join.score_candidates_packed`` over
packed TF-IDF vectors, or a pair scorer), so LSH only affects recall, never
precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.milli import milli
from ..functions.ngrams import char_ngrams
from ..functions.normalize import clean_string
from .tfidf import TfidfConfig


def minhash_signatures(
    docs: DataFrame,
    key_col: str = "key",
    cfg: TfidfConfig | None = None,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — MinHash over distinct char n-grams.

    One explode + one groupBy carrying ``num_hashes`` min-aggregates; each
    hash family member is xxhash64(term, i, seed) (independent enough for
    banding; content-derived → deterministic/resumable)."""
    cfg = cfg or TfidfConfig()
    # cleaned key in its own projection — Catalyst does not CSE into HOF
    # lambdas, so inlining clean_string would re-run it per n-gram (O(len²)
    # per row; see operators/tfidf.doc_terms)
    key = clean_string(key_col) if cfg.clean_string else F.col(key_col)
    cleaned = docs.select("doc_id", key.alias("_k"))
    grams = char_ngrams(
        F.col("_k"), cfg.n_gram_range[0], cfg.n_gram_range[1],
        cfg.remove_space_ngrams,
    )
    terms = cleaned.select(
        F.col("doc_id"), F.explode(F.array_distinct(grams)).alias("term")
    )
    aggs = [
        F.min(F.xxhash64("term", F.lit(i), F.lit(seed))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = terms.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def band_keys(
    sig: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, band_key) — one row per band.

    All band hashes are computed in ONE projection and fanned out with
    ``posexplode`` (a union-of-selects here would re-evaluate the signature
    lineage once per band — 16× the work at every reuse)."""
    band_arr = F.array(*[
        F.xxhash64(
            F.slice("sig", b * rows_per_band + 1, rows_per_band), F.lit(b)
        )
        for b in range(bands)
    ])
    return sig.select(
        "doc_id", F.posexplode(band_arr).alias("band", "band_key")
    )


def _cap_buckets(bands_df: DataFrame, max_bucket_size: int | None) -> DataFrame:
    if not max_bucket_size:
        return bands_df
    sizes = bands_df.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    return (
        bands_df.join(sizes, ["band", "band_key"])
        .where(F.col("bucket_n") <= max_bucket_size)
        .drop("bucket_n")
    )


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

    ``pair_budget``: when set (callers with AUTO-resolved knobs), the
    banded join's output is MEASURED off the band tables before joining
    — Σ C(min(m, cap), 2) in self mode, Σ min(mf, cap)·min(mt, cap)
    two-sided — and the cap/min-shared demote to the SCALE values when
    over budget (``adaptive.enforce_pair_budget``). Doc-count knob
    regimes cannot see band-key concentration (a shared-template corpus
    banded 22% of 124k docs behind ONE key and emitted 421M pairs under
    the permissive cap — BASELINE.md post-mortem). ``budget_stats``
    receives the measured counts and the knobs the join ran with.

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

    The banded join itself (capping/salting, ≥k-bands counting,
    orientations) is shared with the map-side band generator —
    ``mapside.candidates_from_bands``."""
    from .mapside import candidates_from_bands

    rows_per_band = num_hashes // bands
    f_bands = band_keys(
        minhash_signatures(from_df, key_col, cfg, num_hashes, seed),
        bands,
        rows_per_band,
    )
    t_bands = None
    if to_df is not None:
        t_bands = band_keys(
            minhash_signatures(to_df, key_col, cfg, num_hashes, seed),
            bands,
            rows_per_band,
        )
    if pair_budget is not None:
        from .adaptive import enforce_pair_budget

        # the gate measures each band table, the join reads it again
        f_bands = f_bands.localCheckpoint(eager=True)
        if t_bands is not None:
            t_bands = t_bands.localCheckpoint(eager=True)
        knobs = enforce_pair_budget(
            f_bands,
            {"max_bucket_size": max_bucket_size,
             "min_shared_bands": min_shared_bands},
            pair_budget, budget_stats, to_bands=t_bands,
        )
        max_bucket_size = knobs["max_bucket_size"]
        min_shared_bands = knobs["min_shared_bands"]
        if budget_stats is not None:
            budget_stats.update(
                measured_pairs=budget_stats["capped_pairs_at_resolved"],
                max_bucket_size=max_bucket_size,
                min_shared_bands=min_shared_bands,
            )
    return candidates_from_bands(
        f_bands, t_bands, max_bucket_size=max_bucket_size,
        min_shared_bands=min_shared_bands, hot_bucket=hot_bucket,
        max_salt=max_salt,
    )


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
        milli(p_at(t - F.lit(0.1))).alias("p_below_milli"),
        milli(p_at(t + F.lit(0.1))).alias("p_above_milli"),
    )
