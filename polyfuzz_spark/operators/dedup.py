"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), n-gram Jaccard (exact set similarity via term join),
MinHash-LSH near-dup (banded candidates + exact verification), and SimHash.
Gram tables, verify joins and SimHash are JVM-side; MinHash band keys come
from the map-side kernel (``mapside.minhash_bands_mapside``), and the
small-vocabulary dense routes
score in Arrow batch kernels.

Scale shape: exact dedup is one map-side-combinable groupBy on a hash key;
jaccard pairs join on shared n-grams (same sparsity argument as the cosine
term join — hot grams capped by ``max_df`` below); MinHash/SimHash reduce
each doc to a constant-size signature first, so the pairwise stage touches
candidates only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.milli import ratio_milli, ratio_to_milli, threshold_milli
from ..functions.ngrams import char_ngrams
from .blocking import minhash_candidates
from .mapside import candidates_from_bands, minhash_bands_mapside
from .tfidf import TfidfConfig


def exact_dup_groups(
    docs: DataFrame, key_col: str = "key", id_col: str = "doc_id",
    prefix: int | None = None,
) -> DataFrame:
    """(dedup_key, n_docs, min_doc_id) for groups with > 1 member.

    dedup_key = sha2(content) (or of a prefix — cheap first-pass key).
    One shuffle, map-side combined."""
    c = F.col(key_col)
    if prefix:
        c = c.substr(1, prefix)
    return (
        docs.select(F.sha2(c, 256).alias("dedup_key"), F.col(id_col))
        .groupBy("dedup_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("min_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def raw_shingles(n: int) -> TfidfConfig:
    """The dedup shingle contract as a banding config: raw (uncleaned)
    char n-grams of exactly n, spaces kept — the grams ``_distinct_grams``
    verifies, so candidates and verify see the same sets."""
    return TfidfConfig(
        n_gram_range=(n, n), clean_string=False, remove_space_ngrams=False
    )


def _distinct_grams(docs: DataFrame, key_col: str, n: int,
                    id_col: str = "doc_id") -> DataFrame:
    from ..partitioning import ensure_min_partitions

    grams = char_ngrams(F.col(key_col), n, n, remove_space_ngrams=False)
    # the gram explode is the CPU-heavy step of every dedup route — widen
    # narrow (single-file / AQE-coalesced) inputs before it
    return ensure_min_partitions(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(grams)).alias("term"),
    )


def _jaccard_dense_grams(
    g: DataFrame, threshold: float, score: str = "jaccard",
    min_grams: int = 1,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via a broadcast binary incidence
    matrix: |A∩B| for every pair is ONE matmul (n_docs × |vocab| by its
    transpose), streamed from-side against a broadcast to-side.

    The adaptive fast path for small vocabularies, where the gram join is
    quadratic on hot grams (75 distinct trigrams ⇒ 1.1B joined rows for 5k
    docs) but the dense product is n²·|vocab| trivially BLAS-parallel.
    Same rows as the join path: (from_id, to_id, jaccard_milli),
    from_id < to_id, jaccard ≥ threshold AND ≥ 1 shared gram (the join path
    only ever sees pairs sharing a gram, so threshold 0 matches too).

    Bounded by construction: callers gate on BOTH |vocab| ≤ DENSE_MAX_VOCAB
    and n_docs ≤ DENSE_MAX_DOCS before taking this path, so the Arrow
    collect and the broadcast (uint8 incidence: n_docs × vocab bytes) are
    budget-capped, never corpus-unbounded.

    ONE Arrow collect of the grouped gram lists serves both the matrix
    build and (re-parallelized) the streamed side — the term→id map is
    built on the driver, replacing the former vocab-collect + broadcast
    tid-join + checkpoint + row-collect chain (4 blocking jobs → 1).
    """
    pdf = (
        g.groupBy("doc_id").agg(F.collect_list("term").alias("ts")).toPandas()
    )
    tid: dict[str, int] = {}
    pdf["ts"] = [
        [tid.setdefault(t, len(tid)) for t in row] for row in pdf["ts"]
    ]
    return _jaccard_dense_pdf(
        g.sparkSession, pdf, threshold, score=score, min_grams=min_grams
    )


def _vocab_if_small(g: DataFrame) -> list[str] | None:
    """Sorted distinct terms when |vocab| ≤ DENSE_MAX_VOCAB, else None.

    The collect is BOUNDED by construction (limit MAX+1 before it), and the
    returned list doubles as the tid map — one pass over the gram table
    serves both the routing gate and the dense packing, instead of a stats
    aggregation plus a second distinct-terms pass."""
    sample = (
        g.select("term").distinct().limit(DENSE_MAX_VOCAB + 1).collect()
    )
    if len(sample) > DENSE_MAX_VOCAB:
        return None
    return sorted(r["term"] for r in sample)


def _packed_tids(g: DataFrame, terms: list[str]) -> DataFrame:
    """(doc_id, ts: array<int> sorted dense gram ids) — term → id mapped
    JVM-side via a broadcast dimension (the string vocab never crosses to
    Python per row). ``terms`` comes from ``_vocab_if_small`` (bounded)."""
    spark = g.sparkSession
    tid_df = spark.createDataFrame(
        [(t, i) for i, t in enumerate(terms)], "term string, tid int"
    )
    return (
        g.join(F.broadcast(tid_df), "term")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("tid")).alias("ts"))
    )


def _jaccard_dense_packed(
    packed: DataFrame, threshold: float, score: str = "jaccard"
) -> DataFrame:
    """Dense incidence-matmul core over pre-packed (doc_id, ts) rows."""
    return _jaccard_dense_pdf(
        packed.sparkSession, packed.toPandas(), threshold, score=score
    )


def _jaccard_dense_pdf(
    spark, pdf, threshold: float, score: str = "jaccard", min_grams: int = 1
) -> DataFrame:
    """Matmul core over DRIVER-held packed rows (pandas: doc_id int64,
    ts list[int]) — bounded by the DENSE_MAX gates at every call site.
    The one pandas table feeds the broadcast matrix build AND, via an
    Arrow createDataFrame (evenly sliced — no shuffle, no AQE input-size
    coalescing to dodge), the streamed mapInPandas side.

    ``score="jaccard"``: (from_id, to_id, jaccard_milli), half-up rounded.
    ``score="containment"``: RAW oriented-later rows (from_id < to_id,
    containment_milli by the join path's integer ``(1000·inter) div
    min(|A|,|B|)``, smaller ∈ {-1: from-set smaller, +1: to-set smaller,
    0: tie}) — callers orient via ``_orient_containment`` or per-member
    during distinct-set expansion. ``min_grams`` drops docs with fewer
    distinct grams before the matrix build (containment's noise guard)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    pdf = pdf.assign(doc_id=pdf["doc_id"].astype("int64"))
    if min_grams > 1:
        pdf = pdf[pdf["ts"].map(len) >= min_grams]
    order = np.argsort(pdf["doc_id"].to_numpy())
    ids = pdf["doc_id"].to_numpy()[order].astype(np.int64)
    ts_rows = pdf["ts"].to_numpy()[order]
    n_terms = 1 + max(
        (max(ts) for ts in ts_rows if len(ts)), default=-1
    )
    mat = np.zeros((len(ids), n_terms), dtype=np.uint8)
    for i, ts in enumerate(ts_rows):
        mat[i, np.asarray(ts, dtype=np.int64)] = 1
    sizes = mat.sum(axis=1, dtype=np.int64)
    bc = spark.sparkContext.broadcast((ids, mat, sizes))
    streamed = spark.createDataFrame(
        pdf[["doc_id", "ts"]], schema="doc_id long, ts array<int>"
    )

    min_milli = threshold_milli(threshold)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        to_ids, to_u8, to_sz = bc.value
        # one float32 widening per worker (matmul would silently wrap in
        # uint8); counts ≤ vocab ≤ 2048 are exact in float32
        to_mat = to_u8.astype(np.float32)
        for pdf in batches:
            if not len(pdf):
                continue
            out_f, out_t, out_j, out_s = [], [], [], []
            q_ids = pdf["doc_id"].to_numpy()
            Q = np.zeros((len(pdf), to_mat.shape[1]), dtype=np.float32)
            for i, ts in enumerate(pdf["ts"]):
                Q[i, np.asarray(ts, dtype=np.int64)] = 1.0
            inter = (Q @ to_mat.T).astype(np.int64)
            q_sz = Q.sum(axis=1).astype(np.int64)
            if score == "jaccard":
                union = q_sz[:, None] + to_sz[None, :] - inter
                with np.errstate(invalid="ignore", divide="ignore"):
                    jac = np.where(union > 0, inter / union, 0.0)
                for i in range(len(pdf)):
                    keep = np.nonzero(
                        (jac[i] >= threshold)
                        & (inter[i] > 0)
                        & (to_ids > q_ids[i])
                    )[0]
                    out_f.extend([q_ids[i]] * len(keep))
                    out_t.extend(to_ids[keep])
                    out_j.extend(
                        ratio_to_milli(inter[i][keep], union[i][keep])
                    )
                yield pd.DataFrame(
                    {"from_id": out_f, "to_id": out_t, "jaccard_milli": out_j}
                )
                continue
            # containment: integer milli, matching the join path exactly
            mn = np.minimum(q_sz[:, None], to_sz[None, :])
            cm = np.where(mn > 0, (1000 * inter) // np.maximum(mn, 1), 0)
            for i in range(len(pdf)):
                keep = np.nonzero(
                    (cm[i] >= min_milli)
                    & (inter[i] > 0)
                    & (to_ids > q_ids[i])
                )[0]
                out_f.extend([q_ids[i]] * len(keep))
                out_t.extend(to_ids[keep])
                out_j.extend(cm[i][keep].astype(np.int64))
                out_s.extend(np.sign(q_sz[i] - to_sz[keep]).astype(np.int32))
            yield pd.DataFrame(
                {
                    "from_id": out_f,
                    "to_id": out_t,
                    "containment_milli": out_j,
                    "smaller": pd.array(out_s, dtype="int32"),
                }
            )

    if score == "jaccard":
        schema = "from_id long, to_id long, jaccard_milli long"
    else:
        schema = (
            "from_id long, to_id long, containment_milli long, smaller int"
        )
    return streamed.mapInPandas(gen, schema=schema)


def _orient_containment(raw: DataFrame) -> DataFrame:
    """RAW containment rows (from_id < to_id, smaller flag) → the public
    (contained_id, container_id, containment_milli) orientation: the
    smaller-set doc first, lower id on size ties (from_id IS the lower
    id by the kernel's to>from enumeration)."""
    return raw.select(
        F.when(F.col("smaller") == 1, F.col("to_id"))
        .otherwise(F.col("from_id"))
        .alias("contained_id"),
        F.when(F.col("smaller") == 1, F.col("from_id"))
        .otherwise(F.col("to_id"))
        .alias("container_id"),
        F.col("containment_milli").cast("bigint").alias("containment_milli"),
    )


DENSE_MAX_VOCAB = 2048
DENSE_MAX_DOCS = 50_000
DENSE_MAX_SETS = 50_000


def _tiny_vocab_route(
    g: DataFrame, threshold: float, score: str = "jaccard",
    min_grams: int = 1,
) -> tuple[DataFrame | None, DataFrame]:
    """Adaptive routing gate shared by ``ngram_jaccard_pairs``,
    ``minhash_near_dups`` and ``ngram_containment_pairs`` (the latter via
    ``score="containment"``, which swaps the dense kernels' formula and
    output orientation but keeps the identical gate and budgets): ONE
    aggregation job over the gram table decides
    the route (|vocab| and gram-bearing doc count together — the doc count
    is exactly what bounds the dense route's Arrow collect). Returns
    ``(result, g)``: ``result`` is the finished pair DataFrame for the
    tiny-vocab routes, or None with ``g`` eagerly checkpointed for the
    caller's large-vocab plan (which consumes it from multiple sides).

    The gate counts are HLL sketches (map-side-combinable; an exact
    distinct here would shuffle the full gram table twice just to pick a
    route). Approximate routing is SAFE: every route emits identical rows,
    and the budgets are soft — a few-percent undershoot widens the dense
    matrix or the Arrow collect by the same few percent, it does not break
    them. The one hazard is the distinct-set route's term-id map, which
    needs the EXACT vocabulary ≤ its cap — re-checked by
    ``_vocab_if_small`` (bounded limit-collect), falling through to the
    join path when the sketch undershot.

    Deliberately NO up-front localCheckpoint of ``g`` (measured, r04): the
    gate agg is map-side HLL over the unmaterialized explode lineage and
    the dense kernel's incidence collect projects/aggregates through the
    same lineage — materializing the full distinct gram table first
    (~10M rows at sf0.1) made ``containment_dups`` 3.0→12.3 s and
    ``dedup_against`` 3.7→5.0 s. Only the routes that consume ``g`` from
    MULTIPLE sides downstream (distinct-set kernel, banded verify joins)
    checkpoint it, at their branch."""
    nv, nd = g.agg(
        F.approx_count_distinct("term", rsd=0.02),
        F.approx_count_distinct("doc_id", rsd=0.02),
    ).first()
    if nv <= DENSE_MAX_VOCAB and nd <= DENSE_MAX_DOCS:
        if score == "containment":
            return _orient_containment(
                _jaccard_dense_grams(
                    g, threshold, score="containment", min_grams=min_grams
                )
            ), g
        return _jaccard_dense_grams(g, threshold), g
    if nv <= DENSE_MAX_VOCAB:
        g = g.localCheckpoint(eager=True)
        terms = _vocab_if_small(g)
        if terms is not None:
            if score == "containment":
                return _containment_distinct_sets(
                    g, threshold, terms, min_grams=min_grams
                ), g
            return _jaccard_distinct_sets(g, threshold, terms), g
        return None, g  # sketch undershot the true vocab: join path
    return None, g.localCheckpoint(eager=True)


def _jaccard_distinct_sets(g: DataFrame, threshold: float,
                           terms: list[str]) -> DataFrame:
    """Tiny-vocab, huge-corpus route (vocab ≤ DENSE_MAX_VOCAB but docs >
    DENSE_MAX_DOCS): over ≤ 2048 grams many documents share IDENTICAL gram
    sets, so group docs by gram set first, run the dense incidence matmul
    over DISTINCT sets only, and expand pairs back through membership —
    EXACT, with the matmul and driver collect bounded by the number of
    distinct sets (≤ DENSE_MAX_SETS, else refuse with guidance: neither
    the gram join nor banded MinHash is finite-shaped on this input, every
    signature collides).

    Intra-set pairs have Jaccard exactly 1 (emitted at 1000 milli); the
    pair expansion is output-bound (those pairs ARE the answer), with an
    explicit repartition so AQE's input-size coalescing doesn't squeeze the
    member explosion onto few tasks."""
    spark = g.sparkSession
    packed = _packed_tids(g, terms)
    sets = (
        packed.groupBy("ts")
        .agg(
            F.min("doc_id").alias("rep"),
            F.collect_list("doc_id").alias("members"),
        )
        .localCheckpoint(eager=True)
    )
    n_sets = sets.count()
    if n_sets > DENSE_MAX_SETS:
        raise ValueError(
            f"{n_sets} distinct gram sets over a tiny vocabulary exceed "
            f"DENSE_MAX_SETS={DENSE_MAX_SETS}; no finite-shaped exact plan "
            "exists here (banded MinHash collides on tiny vocabularies) — "
            "use ngram_jaccard_pairs(max_df=...) for an approximate join, "
            "or raise dedup.DENSE_MAX_SETS if the set matrix fits memory"
        )
    # _jaccard_dense_packed collects its input eagerly (Arrow toPandas),
    # so the rep projection needs no checkpoint of its own
    rep_pairs = _jaccard_dense_packed(
        sets.select(F.col("rep").alias("doc_id"), "ts"), threshold
    )
    n_part = spark.sparkContext.defaultParallelism * 4
    m_from = sets.select(
        F.col("rep").alias("from_id"), F.explode("members").alias("x")
    )
    m_to = sets.select(
        F.col("rep").alias("to_id"), F.explode("members").alias("y")
    )
    cross = (
        rep_pairs.repartition(n_part, "from_id")
        .join(m_from, "from_id")
        .join(m_to, "to_id")
        .select(
            F.least("x", "y").alias("from_id"),
            F.greatest("x", "y").alias("to_id"),
            "jaccard_milli",
        )
    )
    min_milli = threshold_milli(threshold)
    a = sets.select(F.col("rep").alias("r"), F.explode("members").alias("x"))
    b = sets.select(F.col("rep").alias("r2"), F.explode("members").alias("y"))
    intra = (
        a.repartition(n_part, "r")
        .join(b, (F.col("r") == F.col("r2")) & (F.col("x") < F.col("y")))
        .select(
            F.col("x").alias("from_id"),
            F.col("y").alias("to_id"),
            F.lit(1000).cast("bigint").alias("jaccard_milli"),
        )
    )
    if min_milli > 1000:  # degenerate threshold > 1: nothing qualifies
        return cross.where(F.lit(False))
    return cross.unionByName(intra)


def _containment_distinct_sets(
    g: DataFrame, threshold: float, terms: list[str], min_grams: int = 1
) -> DataFrame:
    """Tiny-vocab, huge-corpus containment route — the
    ``_jaccard_distinct_sets`` reduction with containment scoring: group
    docs by identical distinct-gram set, score DISTINCT sets with the
    dense kernel, expand pairs back through membership. Orientation is
    per REP PAIR (every member of a set has the same gram set, so the
    smaller-set side is constant across its member pairs) except on size
    TIES, where each member pair orients by its own ids. Intra-set pairs
    are containment exactly 1000 (identical sets), lower id contained."""
    spark = g.sparkSession
    packed = _packed_tids(g, terms)
    if min_grams > 1:
        packed = packed.where(F.size("ts") >= int(min_grams))
    sets = (
        packed.groupBy("ts")
        .agg(
            F.min("doc_id").alias("rep"),
            F.collect_list("doc_id").alias("members"),
        )
        .localCheckpoint(eager=True)
    )
    n_sets = sets.count()
    if n_sets > DENSE_MAX_SETS:
        raise ValueError(
            f"{n_sets} distinct gram sets over a tiny vocabulary exceed "
            f"DENSE_MAX_SETS={DENSE_MAX_SETS}; no finite-shaped exact plan "
            "exists here — use ngram_containment_pairs(max_df=...) to cut "
            "hot grams, or raise dedup.DENSE_MAX_SETS if the set matrix "
            "fits memory"
        )
    raw = _jaccard_dense_packed(
        sets.select(F.col("rep").alias("doc_id"), "ts"),
        threshold,
        score="containment",
    )
    n_part = spark.sparkContext.defaultParallelism * 4
    m_from = sets.select(
        F.col("rep").alias("from_id"), F.explode("members").alias("x")
    )
    m_to = sets.select(
        F.col("rep").alias("to_id"), F.explode("members").alias("y")
    )
    cross = (
        raw.repartition(n_part, "from_id")
        .join(m_from, "from_id")
        .join(m_to, "to_id")
        .select(
            F.when(F.col("smaller") == 1, F.col("y"))
            .when(F.col("smaller") == -1, F.col("x"))
            .otherwise(F.least("x", "y"))
            .alias("contained_id"),
            F.when(F.col("smaller") == 1, F.col("x"))
            .when(F.col("smaller") == -1, F.col("y"))
            .otherwise(F.greatest("x", "y"))
            .alias("container_id"),
            F.col("containment_milli").cast("bigint")
            .alias("containment_milli"),
        )
    )
    min_milli = threshold_milli(threshold)
    if min_milli > 1000:  # degenerate threshold > 1: nothing qualifies
        return cross.where(F.lit(False))
    a = sets.select(F.col("rep").alias("r"), F.explode("members").alias("x"))
    b = sets.select(F.col("rep").alias("r2"), F.explode("members").alias("y"))
    intra = (
        a.repartition(n_part, "r")
        .join(b, (F.col("r") == F.col("r2")) & (F.col("x") < F.col("y")))
        .select(
            F.col("x").alias("contained_id"),
            F.col("y").alias("container_id"),
            F.lit(1000).cast("bigint").alias("containment_milli"),
        )
    )
    return cross.unionByName(intra)


def ngram_jaccard_pairs(
    docs: DataFrame,
    key_col: str = "key",
    n: int = 3,
    threshold: float = 0.7,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-set Jaccard for every pair sharing ≥1 gram, filtered to
    ≥ threshold: (from_id, to_id, jaccard_milli). from_id < to_id.

    |A∩B| from the gram join, sizes from a per-doc count; Jaccard =
    inter / (|A| + |B| - inter). ``max_df`` drops ubiquitous grams from the
    JOIN only — that makes inter counts approximate, so it stays None for
    oracle-checked runs and is a scale knob for corpus runs.

    Adaptive routing on (|vocab|, n_docs): tiny vocab + bounded corpus →
    dense incidence matmul (the gram join degenerates: hot grams ⇒
    quadratic fan-out on few shuffle keys); tiny vocab + huge corpus →
    distinct-gram-set reduction (exact, matmul over distinct sets only);
    large vocab → the gram join (use ``max_df`` to tame hot grams). All
    routes produce identical rows where they are exact."""
    routed, g = _tiny_vocab_route(
        _distinct_grams(docs, key_col, n), threshold
    )
    if routed is not None:
        return routed
    # large vocab: g arrives eagerly checkpointed — sizes and both join
    # sides below would otherwise re-run the gram explode per consumer
    if max_df:
        hot = g.groupBy("term").agg(F.count(F.lit(1)).alias("df")).where(
            F.col("df") > max_df
        )
        g = g.join(F.broadcast(hot), "term", "left_anti")
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = g.select(F.col("doc_id").alias("from_id"), F.col("term").alias("t_a"))
    b = g.select(F.col("doc_id").alias("to_id"), F.col("term").alias("t_b"))
    inter = (
        a.join(b, (F.col("t_a") == F.col("t_b")) & (F.col("from_id") < F.col("to_id")))
        .groupBy("from_id", "to_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("from_id"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("to_id"), F.col("n_grams").alias("nb"))
    union = F.col("na") + F.col("nb") - F.col("inter")
    jac = F.col("inter") / union
    return (
        inter.join(sa, "from_id")
        .join(sb, "to_id")
        .where(jac >= F.lit(threshold))
        .select(
            "from_id",
            "to_id",
            ratio_milli("inter", union).alias("jaccard_milli"),
        )
    )


def ngram_containment_pairs(
    docs: DataFrame,
    key_col: str = "key",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
    min_grams: int = 1,
) -> DataFrame:
    """(contained_id, container_id, containment_milli) — doc pairs where
    the SMALLER distinct n-gram set is ≥ ``threshold`` covered by the
    larger one: the subset-duplication detector (a doc pasted inside a
    bigger one scores containment ≈ 1 but Jaccard ≈ |small|/|big| — far
    below any near-dup threshold, which is exactly how quote-and-extend
    duplication escapes Jaccard dedup; cf. the span-level view in
    ``substring_dedup.py``).

    Containment = |A∩B| / min(|A|,|B|), milli-quantized with integer
    arithmetic; ``contained_id`` is the smaller-set doc (lower id on
    ties). ``min_grams`` drops docs whose distinct-gram set is smaller
    than it (tiny sets make containment trivially noisy).

    Scale shape — ADAPTIVE, same routing gate as ``ngram_jaccard_pairs``
    (``_tiny_vocab_route``): tiny vocab + bounded corpus → dense
    incidence matmul (a raw gram join degenerates exactly here — hot
    grams with df ≈ n_docs make the equi-join Σdf² ≈ n² rows; 377
    trigrams over 5k docs is already a 2.2B-row intersect); tiny vocab +
    huge corpus → distinct-gram-set reduction (exact, matmul over
    distinct sets only); large vocab → the gram equi-join +
    map-side-combined pair counts (the cosine term join's sparsity
    argument). Banded MinHash is NOT used on any route because LSH bands
    estimate Jaccard, which subset pairs fail by construction; the join
    route is bounded instead by ``max_df`` (drop grams in more than
    max_df docs — applied BEFORE routing, so every route scores the same
    cut gram space and sizes are recomputed after the cut, same contract
    as ``groupsim.group_jaccard_pairs``). All routes emit identical rows
    where exact."""
    g = _distinct_grams(docs, key_col, n, id_col=id_col)
    if max_df is not None:
        dfc = g.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
        g = g.join(dfc.where(F.col("_df") <= max_df), "term").drop("_df")
    routed, g = _tiny_vocab_route(
        g, threshold, score="containment", min_grams=min_grams
    )
    if routed is not None:
        return routed
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    if min_grams > 1:
        sizes = sizes.where(F.col("n_grams") >= int(min_grams))
        g = g.join(sizes.select("doc_id"), "doc_id", "left_semi")
    a = g.select(F.col("doc_id").alias("_a"), "term")
    b = g.select(F.col("doc_id").alias("_b"), "term")
    inter = (
        a.join(b, "term")
        .where(F.col("_a") < F.col("_b"))
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sized = (
        inter.join(
            sizes.select(F.col("doc_id").alias("_a"),
                         F.col("n_grams").alias("_na")), "_a")
        .join(
            sizes.select(F.col("doc_id").alias("_b"),
                         F.col("n_grams").alias("_nb")), "_b")
        .withColumn(
            "containment_milli",
            F.expr("(1000 * _inter) div least(_na, _nb)"),
        )
        .where(F.col("containment_milli") >= threshold_milli(threshold))
    )
    smaller_is_a = (F.col("_na") < F.col("_nb")) | (
        (F.col("_na") == F.col("_nb")) & (F.col("_a") < F.col("_b"))
    )
    return sized.select(
        F.when(smaller_is_a, F.col("_a")).otherwise(F.col("_b"))
        .alias("contained_id"),
        F.when(smaller_is_a, F.col("_b")).otherwise(F.col("_a"))
        .alias("container_id"),
        F.col("containment_milli").cast("bigint").alias("containment_milli"),
    )


def _verified_jaccard(cands: DataFrame, g: DataFrame,
                      threshold: float) -> DataFrame:
    """(from_id, to_id, jaccard_milli) for the candidate pairs whose exact
    n-gram Jaccard over the distinct gram table ``g`` (doc_id, term) is ≥
    ``threshold`` — the banded routes' verify, so precision stays 1.

    Merge hints: the gram table reaches these joins through an explode
    (Generate), whose size estimate keeps the CHILD's sizeInBytes — a
    systematic ~grams-per-doc× undercount that lets the static planner
    pick BroadcastHashJoin on a table that is actually GiB-scale (the
    localCheckpoint originStats inherit the same estimate; observed as a
    driver OOM at the 250k-entity snapshot bench). The verify only runs on
    the LARGE-vocab route, where gram/sizes tables are big by
    construction, so sort-merge is always the right plan here."""
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    ga = g.select(F.col("doc_id").alias("from_id"), "term").hint("merge")
    gb = g.select(
        F.col("doc_id").alias("gb_id"), F.col("term").alias("t_b")
    ).hint("merge")
    inter = (
        cands.join(ga, "from_id")
        .join(
            gb,
            (F.col("to_id") == F.col("gb_id")) & (F.col("term") == F.col("t_b")),
        )
        .groupBy("from_id", "to_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("from_id"), F.col("n_grams").alias("na")
    ).hint("merge")
    sb = sizes.select(
        F.col("doc_id").alias("to_id"), F.col("n_grams").alias("nb")
    ).hint("merge")
    union = F.col("na") + F.col("nb") - F.col("inter")
    return (
        inter.join(sa, "from_id")
        .join(sb, "to_id")
        .where(F.col("inter") / union >= F.lit(threshold))
        .select(
            "from_id",
            "to_id",
            ratio_milli("inter", union).alias("jaccard_milli"),
        )
    )


def minhash_near_dups(
    docs: DataFrame,
    key_col: str = "key",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    max_bucket_size: int | None = 20_000,
) -> DataFrame:
    """LSH-candidate near-dup pairs VERIFIED by exact Jaccard ≥ threshold.

    Banding at r=4 with 32 bands makes the miss probability at j=0.8 about
    (1-0.8^4)^32 ≈ 5e-8 — LSH bounds the pairwise work; the exact verify
    keeps precision at 1 (and recall within that epsilon).
    ``max_bucket_size`` drops pathologically hot band buckets before the
    join (bucket² join fan-out guard at corpus scale; buckets that hot on a
    LARGE vocabulary mean near-identical shingle sets, whose pairs almost
    surely still co-occur in a colder band). None disables the cap and
    restores the pure 5e-8 contract.

    Adaptive: a ≤ DENSE_MAX_VOCAB vocabulary makes MinHash useless (every
    signature collides — a banded join there fans out toward n² and an
    uncapped bucket never finishes), so tiny-vocab corpora take the exact
    dense routes instead (miss probability 0, a strict superset of the LSH
    contract): the incidence matmul when the corpus fits the dense budget,
    the distinct-gram-set reduction when it doesn't. Only large-vocab
    corpora run banded LSH + exact verify."""
    routed, g0 = _tiny_vocab_route(
        _distinct_grams(docs, key_col, n), threshold
    )
    if routed is not None:
        return routed
    # large vocab: g0 arrives eagerly checkpointed, and the
    # eligibility-checked gram table IS the verify input. Jaccard is
    # symmetric, so the banded self-join emits each unordered pair once
    # (from_id < to_id).
    cands = candidates_from_bands(
        minhash_bands_mapside(
            docs, key_col, raw_shingles(n), num_hashes=num_hashes,
            bands=bands,
        ),
        max_bucket_size=max_bucket_size,
        emit_both=False,
    )
    return _verified_jaccard(cands, g0, threshold)


def simhash_signatures(
    docs: DataFrame, key_col: str = "key", n: int = 3, bits: int = 64,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, simhash: bigint) — 64-bit SimHash over n-gram terms.

    bit_i = sign of Σ_terms (hash(term) bit_i ? +1 : -1); built from 64
    conditional sums in ONE groupBy (map-side combined).

    ``hash_fn``: ``"md5"`` (default) derives the 64 term-hash bits from the
    first 16 hex chars of md5 — an algorithm DuckDB computes identically, so
    the whole operator has an EXACT SQL oracle twin. ``"xxhash64"`` is the
    cheaper scale knob (one non-cryptographic JVM hash per gram instead of
    md5 + hex parse) with identical semantics but no engine-independent
    oracle. Both are entirely JVM-side codegen expressions."""
    g = _distinct_grams(docs, key_col, n)
    if hash_fn == "md5":
        # h1 = first 8 hex chars (bits 32..63), h2 = next 8 (bits 0..31):
        # two uint32-range longs, parity-checked against DuckDB's
        # ('0x'||substr(md5(t),...))::BIGINT
        hexc = F.md5("term")
        g = g.withColumn(
            "h1", F.conv(F.substring(hexc, 1, 8), 16, 10).cast("long")
        ).withColumn(
            "h2", F.conv(F.substring(hexc, 9, 8), 16, 10).cast("long")
        )

        def _bit(i: int):
            src = F.col("h1") if i >= 32 else F.col("h2")
            return F.shiftright(src, i % 32).bitwiseAND(F.lit(1))

    elif hash_fn == "xxhash64":
        g = g.withColumn("h", F.xxhash64("term"))

        def _bit(i: int):
            return F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))

    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    aggs = [
        F.sum(F.when(_bit(i) == 1, F.lit(1)).otherwise(F.lit(-1))).alias(f"b{i}")
        for i in range(bits)
    ]
    votes = g.groupBy("doc_id").agg(*aggs)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_near_dups(
    docs: DataFrame, key_col: str = "key", n: int = 3,
    max_hamming: int = 6, band_bits: int = 16, hash_fn: str = "md5",
) -> DataFrame:
    """(from_id, to_id, hamming) pairs with Hamming(simhash) ≤ max_hamming.

    Candidates via 4 exact-match bands of 16 bits (any pair within Hamming 3
    shares a band; at max_hamming 6 this is a high-recall heuristic, the
    standard SimHash table trick), verified with bit_count(xor).
    ``hash_fn`` as in ``simhash_signatures`` (md5 default = exact DuckDB
    oracle twin; xxhash64 = cheaper per-gram hash at scale)."""
    # one projection + posexplode (not a union of per-band selects, which
    # would re-run the 64-vote signature aggregation once per band); the
    # checkpoint materializes signatures once for both join sides
    sig = simhash_signatures(docs, key_col, n, hash_fn=hash_fn).localCheckpoint(
        eager=True
    )
    nbands = 64 // band_bits
    band_arr = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), b * band_bits)
        .bitwiseAND(F.lit((1 << band_bits) - 1))
        for b in range(nbands)
    ])
    bands_df = sig.select(
        "doc_id", "simhash", F.posexplode(band_arr).alias("band", "band_key")
    )
    a = bands_df.select(
        F.col("doc_id").alias("from_id"), "band", "band_key",
        F.col("simhash").alias("sig_a"),
    )
    b = bands_df.select(
        F.col("doc_id").alias("to_id"),
        F.col("band").alias("band_b"),
        F.col("band_key").alias("key_b"),
        F.col("simhash").alias("sig_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("band_key") == F.col("key_b"))
            & (F.col("from_id") < F.col("to_id")),
        )
        .select(
            "from_id",
            "to_id",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs


def dedup_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the deduplicated corpus: transitively cluster the
    near-dup ``pairs`` (``from_id``/``to_id`` — any of this module's pair
    emitters), keep each cluster's minimum-id member, and return the
    surviving ``docs`` rows with all their original columns.

    This is the verb a training-data pipeline actually runs after near-dup
    detection (the pair emitters above only *find* duplicates); the
    reference stops at group assignments (``polyfuzz/linkage.py:5-53``) and
    never drops rows, so min-id survivor selection is this engine's
    documented extension.

    Scale shape: clustering reuses ``linkage.connected_components``
    (bounded driver union-find under ``SMALL_GRAPH_MAX_EDGES``, distributed
    min-label + pointer jumping above it). The drop list holds only the
    NON-representative members of clustered docs — at most one node per
    pair side, already bounded by the emitters' LSH bucket caps and far
    smaller than the corpus — and the final step is a single left_anti
    equi-join of docs against it on ``id_col`` (no broadcast hint: AQE
    broadcasts it when it is small, shuffles when a heavily duplicated
    corpus makes it large).

    ``id_col`` must be integral: representatives are chosen by numeric
    minimum via zero-padded string labels (int64-wide padding keeps string
    order == numeric order inside connected_components).
    """
    from .linkage import connected_components

    id_type = docs.schema[id_col].dataType
    pad = lambda c: F.lpad(F.col(c).cast("string"), 20, "0")
    edges = pairs.select(pad("from_id").alias("src"), pad("to_id").alias("dst"))
    assignments = connected_components(edges).select(
        F.col("key").cast(id_type).alias(id_col),
        F.col("representative").cast(id_type).alias("rep_id"),
    )
    return drop_non_representatives(docs, assignments, id_col, "rep_id")


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_frac: float = 0.8,
    salt: str = "split",
) -> DataFrame:
    """Train/test split that cannot leak near-duplicates across the
    boundary: transitively cluster the near-dup ``pairs``, then assign each
    whole CLUSTER to a split by a deterministic hash of its representative
    (singletons hash on their own id). A per-document split would put two
    near-identical documents on opposite sides — the classic eval
    contamination; hashing the cluster rep makes the boundary respect the
    duplicate graph, rescan-stable, and monotone in ``train_frac``.

    Returns ``docs`` plus ``group_rep`` (the cluster representative, =
    ``id_col`` for singletons) and ``split`` ('train'/'test'). Scale
    shape: clustering reuses the adaptive ``connected_components`` tiers;
    the rep attach is one left equi-join of docs against the (clustered
    nodes only) assignment table; the split itself is a map-side md5
    filter (functions/sampling.py). Training-data-pipeline extension; no
    reference analog."""
    from ..functions.sampling import deterministic_uniform
    from .linkage import connected_components

    id_type = docs.schema[id_col].dataType
    pad = lambda c: F.lpad(F.col(c).cast("string"), 20, "0")
    edges = pairs.select(pad("from_id").alias("src"), pad("to_id").alias("dst"))
    assignments = connected_components(edges).select(
        F.col("key").cast(id_type).alias(id_col),
        F.col("representative").cast(id_type).alias("rep_id"),
    )
    with_rep = (
        docs.join(assignments, id_col, "left")
        .withColumn("group_rep", F.coalesce(F.col("rep_id"), F.col(id_col)))
        .drop("rep_id")
    )
    return with_rep.withColumn(
        "split",
        F.when(
            deterministic_uniform("group_rep", salt) < F.lit(float(train_frac)),
            F.lit("train"),
        ).otherwise(F.lit("test")),
    )


def drop_non_representatives(
    docs: DataFrame,
    assignments: DataFrame,
    id_col: str = "doc_id",
    rep_col: str = "rep_doc_id",
) -> DataFrame:
    """The survivor half of ``dedup_corpus`` for callers that already hold
    cluster assignments (id → representative), e.g. the checkpointed ER
    pipeline's clusters stage: one left_anti equi-join of docs against the
    non-representative members."""
    drops = assignments.where(F.col(id_col) != F.col(rep_col)).select(id_col)
    return docs.join(drops, id_col, "left_anti")


_KNOB_UNSET = object()  # None = "no cap" is a meaningful explicit value


def dedup_against(
    new_docs: DataFrame,
    corpus: DataFrame,
    key_col: str = "key",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int | None = None,
    bands: int | None = None,
    max_bucket_size=_KNOB_UNSET,
) -> DataFrame:
    """Incremental (cross-snapshot) dedup: the NEW documents that survive
    against an EXISTING corpus — the 100 TB operating mode, where a fresh
    crawl/ingest batch is deduped against the standing corpus without ever
    re-processing the corpus itself.

    A new doc is dropped when (a) its content exactly equals any corpus
    doc's (sha256 equi-join — catches everything including docs too short
    to emit shingles), or (b) its char n-gram Jaccard vs any corpus doc is
    ≥ ``threshold`` — two-sided banded MinHash candidates VERIFIED by
    exact Jaccard, the same contract as :func:`minhash_near_dups` (at the
    default b=32 × r=4 banding the candidate miss probability at j=0.8 is
    ≈5e-8; precision is exact). Returns surviving new rows unchanged.

    Intra-batch duplicates are NOT this verb's job (run
    :func:`dedup_corpus` on the batch first/after); on the LSH route the
    corpus side only ever contributes signatures + gram sets — both
    linear, both incremental-friendly (persist them once per snapshot and
    reuse).

    Adaptive like :func:`minhash_near_dups` — and for the same measured
    reason: on a shared-vocabulary corpus banded MinHash stops pruning
    (61% of ALL cross pairs became candidates at sf0.1, 36 s for a 1k×4k
    split), so tiny-vocab corpora take the exact dense/distinct-set routes
    over the parity-tagged union (budget-bounded by the same gates) and
    only large-vocab corpora run the two-sided banded join, with
    ``resolve_blocking_knobs`` sizing the safety knobs from the corpus
    size unless explicitly overridden. Requires non-negative ids (the
    dense routes tag sides as ``2·id`` / ``2·id + 1``, so colliding id
    spaces between batch and corpus are fine).
    """
    nd = new_docs.select(F.col(id_col).alias("doc_id"),
                         F.col(key_col).alias("key"))
    cd = corpus.select(F.col(id_col).alias("doc_id"),
                       F.col(key_col).alias("key"))
    # (a) exact content drop — also shrinks the near-dup input (an exact
    # dup is a j=1 near-dup; no point shingling it again)
    new_sha = nd.select("doc_id", F.sha2("key", 256).alias("__sha"))
    corpus_sha = cd.select(F.sha2("key", 256).alias("__sha")).distinct()
    # two consumers (survivor filter + final flag union): materialize the
    # tiny id list once, not the corpus-wide sha distinct twice
    exact_ids = (
        new_sha.join(corpus_sha, "__sha", "left_semi").select("doc_id")
        .localCheckpoint(eager=True)
    )
    nd_surv = nd.join(exact_ids, "doc_id", "left_anti")
    # (b) near-dup drop over the parity-tagged union: corpus → 2·id,
    # batch → 2·id+1, so one gram table drives the routing gate and every
    # route's pair output filters to batch×corpus straddles by parity
    cd2 = cd.select((F.col("doc_id") * 2).alias("doc_id"), "key")
    nd2 = nd_surv.select((F.col("doc_id") * 2 + 1).alias("doc_id"), "key")
    routed, g = _tiny_vocab_route(
        _distinct_grams(cd2.unionByName(nd2), "key", n), threshold
    )
    if routed is not None:
        # dense/distinct-set route: exact all-pairs over the union
        # (budget-bounded by the DENSE_MAX gates); keep batch-side ids of
        # straddling pairs
        near_ids = (
            routed.where(
                F.pmod(F.col("from_id"), 2) + F.pmod(F.col("to_id"), 2)
                == F.lit(1)
            )
            .select(
                F.expr(
                    "CASE WHEN pmod(from_id, 2) = 1 THEN (from_id - 1) DIV 2 "
                    "ELSE (to_id - 1) DIV 2 END"
                ).alias("doc_id")
            )
            .distinct()
        )
    else:
        # large vocab: two-sided banded candidates (size-resolved safety
        # knobs) + exact Jaccard verify off the ONE checkpointed gram
        # table (g carries parity-tagged ids; candidates are remapped into
        # that space)
        from .adaptive import CANDIDATE_PAIR_BUDGET, resolve_blocking_knobs

        kw = {} if max_bucket_size is _KNOB_UNSET else {
            "max_bucket_size": max_bucket_size
        }
        knobs = resolve_blocking_knobs(
            cd.count(), num_hashes=num_hashes, bands=bands, **kw
        )
        cands = minhash_candidates(
            nd_surv, cd, "key", raw_shingles(n),
            # auto-resolved knobs → measured fan-out gate (BASELINE
            # post-mortem: doc-count regimes miss band concentration);
            # an explicitly-passed cap is a contract → no gate
            pair_budget=None if kw else CANDIDATE_PAIR_BUDGET,
            **knobs,
        ).select(
            (F.col("from_id") * 2 + 1).alias("from_id"),
            (F.col("to_id") * 2).alias("to_id"),
        )
        near_ids = (
            _verified_jaccard(cands, g, threshold)
            .select(F.expr("(from_id - 1) DIV 2").alias("doc_id"))
            .distinct()
        )
    flagged = exact_ids.union(near_ids).distinct()
    return new_docs.join(
        flagged.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )
