"""Size-adaptive TF-IDF self-match top-k: dense broadcast matmul below the
broadcast budget, blocked MinHash-LSH candidates + exact packed re-scoring
above it.

This is the dispatcher the contract queries use (VERDICT r01 item 1): the
dense path's driver collect is now *bounded* by ``dense_cosine.
fits_broadcast``, and anything larger takes the same blocked path the ER
pipeline (``plans/pipeline.py``) already runs at scale — map-side banding,
capped buckets, candidate equi-join, exact cosine on candidates only. The
blocked path is exact on every scored pair; LSH only bounds which pairs get
scored (miss probability per band math in ``blocking.minhash_candidates``),
so precision is 1 and recall is the documented LSH recall.

Reference semantics: ``/root/reference/polyfuzz/models/_utils.py:59-102``
(all-pairs cosine + top-n); the blocked variant is the north-rule scale
re-expression.
"""

from __future__ import annotations

from dataclasses import replace as _dc_replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.milli import milli, threshold_milli
from .tfidf import TfidfConfig

_UNSET = object()

# Blocking-knob regimes for the blocked branches. PERMISSIVE maximizes
# candidate recall at moderate Jaccard and is safe up to ~hundreds of
# thousands of docs; on a SHARED-VOCABULARY corpus (code) at millions of
# docs its banded join explodes (capped buckets still pair 5000×5000 per
# hot key — BASELINE.md). SCALE is the ER-pipeline config measured
# end-to-end at a 2.2M-doc to-side × 200k new docs in 760 s on local[32]
# with flat memory. The dispatchers switch automatically at
# BLOCKED_KNOBS_MIN_DOCS so the documented explosion cannot fire from the
# defaults; explicit caller knobs always win.
PERMISSIVE_KNOBS = {
    "num_hashes": 64, "bands": 32, "max_bucket_size": 5000,
    "min_shared_bands": 1,
}
SCALE_KNOBS = {
    "num_hashes": 64, "bands": 16, "max_bucket_size": 200,
    "min_shared_bands": 2,
}
# Above ~10M docs of a shared-template corpus the SCALE tier's capped
# bound itself grows past any budget (the 10M curation leg measured
# 2.43B capped pairs AT SCALE knobs — BASELINE.md round 5): hot-band
# mass grows super-linearly, so the cap must tighten with corpus size.
# C(100,2) per hot bucket is 4x less join fan-out than C(200,2), and
# >=3 shared bands prunes template-coincidence candidates the 2-band
# filter keeps; recall loss is the documented banded-LSH tradeoff.
XSCALE_KNOBS = {
    "num_hashes": 64, "bands": 16, "max_bucket_size": 100,
    "min_shared_bands": 3,
}
BLOCKED_KNOBS_MIN_DOCS = 500_000  # monkeypatchable in tests
XSCALE_MIN_DOCS = 8_000_000


# the banded join's OUTPUT budget for auto-resolved knobs: above this the
# permissive regime demotes to the SCALE cap/min-shared. ~20M pairs keeps
# the packed-vector join + Arrow scorer in seconds on local[32]; the ER
# bench's measured-safe config emits far less at every tested scale.
CANDIDATE_PAIR_BUDGET = 20_000_000


def capped_pair_count(
    bands: DataFrame, cap: int | None, to_bands: DataFrame | None = None
) -> int:
    """The EXACT row count the banded join will emit under a bucket cap:
    Σ_buckets C(min(m, cap), 2) for a self-join, Σ min(mf, cap)·min(mt,
    cap) over shared buckets when ``to_bands`` holds the to-side band
    table — one map-side-combined agg per band table (~20 B/row). This is
    the pre-flight that makes knob resolution MEASURED instead of guessed:
    doc count alone cannot see band-key concentration (a shared-template
    code corpus puts >20% of all docs behind ONE band key at any corpus
    size — BASELINE.md's 124k-doc post-mortem, 421M pairs under the
    permissive cap)."""
    n = F.count(F.lit(1))
    m = n if cap is None else F.least(n, F.lit(int(cap)))
    sizes = bands.groupBy("band", "band_key").agg(m.alias("m"))
    if to_bands is None:
        pairs = F.col("m") * (F.col("m") - 1) / 2
    else:
        sizes = sizes.join(
            to_bands.groupBy("band", "band_key").agg(m.alias("mt")),
            ["band", "band_key"],
        )
        pairs = F.col("m") * F.col("mt")
    row = sizes.agg(F.coalesce(F.sum(pairs), F.lit(0.0)).alias("p")).collect()[0]
    return int(row["p"])


def enforce_pair_budget(
    bands: DataFrame,
    knobs: dict,
    budget: int | None = None,  # None → module CANDIDATE_PAIR_BUDGET
    stats: dict | None = None,
    to_bands: DataFrame | None = None,
) -> dict:
    """Demote auto-resolved blocking knobs when the band table's MEASURED
    join fan-out exceeds ``budget``: cap → the SCALE cap, min_shared_bands
    → ≥2 (both apply at join time, so the band table is reused, not
    recomputed). ``to_bands`` measures a two-sided join instead of the
    self-join. Returns the (possibly demoted) knob dict; ``stats``
    receives the measured counts and the knobs the join runs with. The
    gate runs inside ``mapside.candidates_from_bands(pair_budget=...)``,
    only for AUTO-resolved knobs — explicit caller knobs are a contract."""
    if budget is None:
        budget = CANDIDATE_PAIR_BUDGET  # read at call time (testable)
    measured = capped_pair_count(bands, knobs.get("max_bucket_size"), to_bands)
    out = dict(knobs)
    demoted = measured > budget
    if demoted:
        out["max_bucket_size"] = min(
            SCALE_KNOBS["max_bucket_size"],
            out["max_bucket_size"] or SCALE_KNOBS["max_bucket_size"],
        )
        out["min_shared_bands"] = max(out["min_shared_bands"] or 1, 2)
        # second step: a shared-template corpus can exceed the budget AT
        # the SCALE cap (10M-doc leg: 2.43B capped pairs — the demotion
        # had nothing stricter to reach). Re-measure under the SCALE cap
        # and fall through to the XSCALE tier if still over. One extra
        # map-side agg, paid only in the already-over-budget case.
        if capped_pair_count(bands, out["max_bucket_size"], to_bands) > budget:
            out["max_bucket_size"] = min(
                XSCALE_KNOBS["max_bucket_size"], out["max_bucket_size"]
            )
            out["min_shared_bands"] = max(
                out["min_shared_bands"], XSCALE_KNOBS["min_shared_bands"]
            )
    if stats is not None:
        stats["capped_pairs_at_resolved"] = measured
        stats["measured_pairs"] = measured
        stats["pair_budget"] = budget
        stats["demoted"] = demoted
        stats["max_bucket_size"] = out["max_bucket_size"]
        stats["min_shared_bands"] = out["min_shared_bands"]
        if demoted:
            stats["capped_pairs_at_demoted"] = capped_pair_count(
                bands, out["max_bucket_size"], to_bands
            )
    return out


def resolve_blocking_knobs(
    n_docs: int,
    num_hashes: int | None = None,
    bands: int | None = None,
    max_bucket_size=_UNSET,
    min_shared_bands: int | None = None,
) -> dict:
    """Blocking knobs for a blocked branch over ``n_docs`` documents:
    the size-appropriate regime (PERMISSIVE below BLOCKED_KNOBS_MIN_DOCS,
    SCALE above, XSCALE above XSCALE_MIN_DOCS) with any explicitly-passed
    knob overriding it. ``max_bucket_size`` uses a sentinel because
    ``None`` (no cap) is a meaningful explicit value."""
    knobs = dict(
        XSCALE_KNOBS if n_docs > XSCALE_MIN_DOCS
        else SCALE_KNOBS if n_docs > BLOCKED_KNOBS_MIN_DOCS
        else PERMISSIVE_KNOBS
    )
    if num_hashes is not None:
        knobs["num_hashes"] = num_hashes
    if bands is not None:
        knobs["bands"] = bands
    if max_bucket_size is not _UNSET:
        knobs["max_bucket_size"] = max_bucket_size
    if min_shared_bands is not None:
        knobs["min_shared_bands"] = min_shared_bands
    return knobs


def _as_doc_id(df: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """Project (doc_id, key) for the blocking operators, which hardcode the
    ``doc_id`` name (ADVICE r02: a non-default id_col used to work on the
    dense path and fail with AnalysisException only above the broadcast
    budget)."""
    if id_col == "doc_id":
        return df
    return df.select(F.col(id_col).alias("doc_id"), key_col)


def _rank_milli(scored: DataFrame, top_n: int,
                min_similarity: float) -> DataFrame:
    """(from_id, to_id, sim_milli, rnk) from exact (from_id, to_id, sim)
    scores: the score and threshold rules of ``functions.milli`` (the ones
    the dense kernel applies), then the top-n per from_id on
    (sim_milli desc, to_id asc), the dense kernel's contract."""
    ranked = (
        scored.select("from_id", "to_id", milli("sim").alias("sim_milli"))
        .where(F.col("sim_milli") >= threshold_milli(min_similarity))
    )
    w = Window.partitionBy("from_id").orderBy(
        F.desc("sim_milli"), F.asc("to_id")
    )
    return (
        ranked.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_n)
    )


def tfidf_selfmatch_topk(
    docs: DataFrame,
    key_col: str = "key",
    top_n: int = 1,
    min_similarity: float = 0.0,
    cfg: TfidfConfig | None = None,
    id_col: str = "doc_id",
    num_hashes: int | None = None,
    bands: int | None = None,
    max_bucket_size=_UNSET,
    min_shared_bands: int | None = None,
) -> DataFrame:
    """(from_id, to_id, sim_milli, rnk) — self-match top-n pairs with
    sim ≥ min_similarity, ranked on the milli-quantized score with a to_id
    tie-break (identical contract on both paths).

    Dense path (corpus within ``dense_cosine.fits_broadcast``): exact.
    Blocked path: exact scores over banded-MinHash candidates; knobs left
    at None resolve via ``resolve_blocking_knobs`` — permissive recall
    (b=32 × r=2, P(candidate) ≥ 95% even at Jaccard ≈ 0.3) below
    ``BLOCKED_KNOBS_MIN_DOCS``, the measured-safe ER config above it.
    Hot buckets are capped at ``max_bucket_size`` (documented recall
    tradeoff at scale).
    """
    from . import dense_cosine
    from .mapside import (
        candidates_from_bands,
        fit_idf_mapside,
        minhash_bands_mapside,
        vectorize_packed_mapside,
    )

    cfg = cfg or TfidfConfig()
    model = fit_idf_mapside(docs, key_col, cfg, id_col=id_col)
    dim = model.idf.count()
    # materialize the packed vectors ONCE: the dense branch reads them
    # twice (driver collect for the broadcast matrix + the streamed
    # mapInPandas side) and the blocked branch feeds both sides of the
    # candidate join — without the checkpoint the Python vectorization
    # kernel re-runs per consumer (lineage re-execution)
    packed = vectorize_packed_mapside(
        model, docs, key_col, id_col=id_col
    ).localCheckpoint(eager=True)
    if dense_cosine.fits_broadcast(model.n_docs, dim):
        return dense_cosine.tfidf_dense_topk_packed_two(
            packed, packed, dim, top_n=top_n, min_similarity=min_similarity,
            exclude_self=True, n_to=model.n_docs,
        )

    from .cosine_join import score_candidates_packed

    # blocked scale path: band keys map-side, candidates from the capped
    # banded equi-join (both orientations, diagonal excluded), exact cosine
    # on candidates only; knobs sized to the corpus (VERDICT r02 item 1).
    knobs = resolve_blocking_knobs(
        model.n_docs, num_hashes, bands, max_bucket_size, min_shared_bands
    )
    band_rows = minhash_bands_mapside(
        docs, key_col, cfg, num_hashes=knobs["num_hashes"],
        bands=knobs["bands"], id_col=id_col,
    )
    cands = candidates_from_bands(
        band_rows, None, max_bucket_size=knobs["max_bucket_size"],
        min_shared_bands=knobs["min_shared_bands"],
    )
    return _rank_milli(
        score_candidates_packed(cands, packed, packed), top_n, min_similarity
    )


def tfidf_transform_topk(
    model,
    new_from: DataFrame,
    to_df: DataFrame,
    key_col: str = "key",
    top_n: int = 1,
    min_similarity: float = 0.0,
    id_col: str = "doc_id",
    num_hashes: int | None = None,
    bands: int | None = None,
    max_bucket_size=_UNSET,
    min_shared_bands: int | None = None,
) -> DataFrame:
    """(from_id, to_id, sim_milli, rnk) — two-list transform-time top-n
    with a FITTED model (reference ``re_train=False``, _tfidf.py:108-117):
    new strings are vectorized with the fitted vocabulary (OOV grams drop,
    normalize after the drop) and matched against ``to_df`` with no
    self-exclusion.

    Size-adaptive like ``tfidf_selfmatch_topk``: dense broadcast matmul
    while the TO-side fits ``dense_cosine.fits_broadcast`` (the from-side
    streams, so only the serving index is ever collected); above budget,
    banded-MinHash two-list candidates + exact packed re-scoring —
    identical milli-quantized contract on both paths.

    Both branches score packed map-side vectors
    (``mapside.vectorize_packed_mapside``) of ``new_from`` and ``to_df``.

    Blocking knobs at corpus scale: knobs left at None resolve via
    ``resolve_blocking_knobs`` on the TO-side size — the permissive set
    (b=32 × r=2, bucket cap 5000, ≥1 shared band) below
    ``BLOCKED_KNOBS_MIN_DOCS``, the ER-pipeline config (``num_hashes=64,
    bands=16, max_bucket_size=200, min_shared_bands=2``, measured
    end-to-end at a 2.2M-doc to-side × 200k new docs in 760 s on local[32]
    with flat memory, BASELINE.md) above it. Explicit knobs always win.
    """
    from . import dense_cosine
    from .mapside import vectorize_packed_mapside

    # checkpoint into a LOCAL model copy — mutating the caller's model
    # stacks checkpoints across repeated transform calls and races shared
    # models (ADVICE r02)
    model = _dc_replace(model, idf=model.idf.localCheckpoint(eager=True))
    dim = model.idf.count()
    n_to = to_df.count()
    if dense_cosine.fits_broadcast(n_to, dim):
        # MAP-SIDE packed vectorization on both sides feeding the packed
        # two-list matmul kernel — no |docs|×|grams| exploded shuffle, no
        # window norm, no per-input localCheckpoint (each side is consumed
        # exactly once: to collects, from streams)
        return dense_cosine.tfidf_dense_topk_packed_two(
            vectorize_packed_mapside(model, new_from, key_col, id_col=id_col),
            vectorize_packed_mapside(model, to_df, key_col, id_col=id_col),
            dim,
            top_n=top_n,
            min_similarity=min_similarity,
            n_to=n_to,
        )

    # blocked branch: the same packed vectors, scored on MinHash
    # two-list candidates only
    from .blocking import minhash_candidates
    from .cosine_join import score_candidates_packed

    new_packed = vectorize_packed_mapside(
        model, new_from, key_col, id_col=id_col
    ).localCheckpoint(eager=True)
    to_packed = vectorize_packed_mapside(
        model, to_df, key_col, id_col=id_col
    ).localCheckpoint(eager=True)
    knobs = resolve_blocking_knobs(
        n_to, num_hashes, bands, max_bucket_size, min_shared_bands
    )
    cands = minhash_candidates(
        _as_doc_id(new_from, id_col, key_col),
        _as_doc_id(to_df, id_col, key_col),
        key_col=key_col, cfg=model.config,
        # auto-resolved knobs → measured fan-out gate (the doc-count
        # regime cannot see band-key concentration; BASELINE post-mortem).
        # Explicit caller knobs are a contract: no gate.
        pair_budget=(
            CANDIDATE_PAIR_BUDGET
            if max_bucket_size is _UNSET and min_shared_bands is None
            else None
        ),
        **knobs,
    )
    return _rank_milli(
        score_candidates_packed(cands, new_packed, to_packed),
        top_n, min_similarity,
    )
