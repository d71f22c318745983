"""Dense broadcast-matmul cosine scoring (the reference's "sklearn"/dense
``cosine_method`` re-expressed for Spark; ``/root/reference/polyfuzz/models/
_utils.py:94-102`` computes the same full similarity matrix in-memory).

Strategy: when the **to-side fits a broadcast** (n_to × dim doubles within a
few hundred MB), collect it once into a numpy matrix, broadcast it, and
stream the from-side through ``mapInPandas`` — each Arrow batch does ONE
BLAS matmul against the corpus matrix and emits only top-n rows above the
threshold. The from-side is unbounded (it streams); only the to-side is
capped, exactly like a broadcast-hash join. This beats the sparse term join
whenever the vocabulary is small or postings are long (hot-term fan-out
makes the term join quadratic; a 5k-doc corpus with 75 distinct trigrams
produces a 1.1-billion-row join but a 5000×75 matmul).

Scores are quantized INSIDE the kernel to integer milli-units by the
score rule ``functions.milli.to_milli`` and ranked by the one per-row ranker
``topk_milli`` (milli desc, to_id asc) — bit-identical to the engine's
relational top-k and to the DuckDB oracles. The streaming serving index
(``streaming/incremental.py``) calls both instead of keeping its own.

TF-IDF input is the packed map-side vector (``mapside.
vectorize_packed_mapside``: sorted dense vocab ids + weights), scattered
straight into the matmul rows.

SIZE GATE: every function here materializes the *to-side only* on the
driver for the broadcast, so each one is gated on an explicit doc-count ×
dim byte budget (``fits_broadcast``). Over budget they refuse (TF-IDF —
callers route through ``operators.adaptive``'s blocked LSH paths) or
degrade to the LSH-bucketed approximate path (embeddings →
``knn.lsh_cosine_topk``). No unbounded driver collect remains.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.milli import threshold_milli, to_milli

OUT_SCHEMA = "from_id long, to_id long, sim_milli long, rnk int"


def _out_schema(id_ddl: str) -> str:
    """Kernel output schema with the id type the caller actually fed
    (long, 128-bit struct, string) — see functions/ids.py."""
    return f"from_id {id_ddl}, to_id {id_ddl}, sim_milli long, rnk int"


def _id_codec(values):
    """Normalize collected id values for the numpy kernels.

    Returns ``(emit, cmp, lookup)``:

    * ``emit`` — ndarray of values to EMIT back through Arrow (dicts for
      struct ids, the scalars themselves otherwise);
    * ``cmp`` — array the kernel uses for ``==`` / ``<`` / tie-break
      sorting: the scalars themselves, or for struct ids their int64 RANK
      in sorted key order (injective on the corpus, so equality and a
      deterministic total order survive; comparisons stay vectorized
      int64 instead of object-dtype tuple comparisons);
    * ``lookup`` — keyable → rank dict for mapping query-side ids into
      the same rank space (None for scalar ids; a query id absent from
      the corpus maps to -1, which never equals a corpus rank).
    """
    from ..functions.ids import keyable

    if values and isinstance(values[0], (dict, tuple)) and not isinstance(
        values[0], str
    ):
        keys = [keyable(v) for v in values]
        order = sorted(range(len(keys)), key=keys.__getitem__)
        rank = np.empty(len(keys), dtype=np.int64)
        for pos, i in enumerate(order):
            rank[i] = pos
        emit = np.empty(len(values), dtype=object)
        emit[:] = [
            v.asDict() if hasattr(v, "asDict") else v for v in values
        ]
        return emit, rank, dict(zip(keys, rank))
    arr = np.asarray(values)
    return arr, arr, None


def _q_cmp(q_vals, lookup):
    """Query-side ids in the codec's comparison space (see _id_codec)."""
    if lookup is None:
        return np.asarray(q_vals)
    from ..functions.ids import keyable

    return np.fromiter(
        (lookup.get(keyable(v), -1) for v in q_vals),
        dtype=np.int64,
        count=len(q_vals),
    )

# broadcast budget for the to-side matrix: n_docs × dim float64 must fit
# comfortably in every executor (and once on the driver). Monkeypatchable in
# tests to force the scale paths.
BROADCAST_MAX_DOCS = 200_000
BROADCAST_MAX_BYTES = 512 << 20


def fits_broadcast(n_docs: int, dim: int) -> bool:
    """True when an (n_docs × dim) float64 matrix is within the dense
    broadcast budget — the switch between the dense fast path and the
    blocked/LSH scale path."""
    return (
        n_docs <= BROADCAST_MAX_DOCS
        and n_docs * max(dim, 1) * 8 <= BROADCAST_MAX_BYTES
    )


def _surrogate_expr(c: str):
    """64-bit scalar surrogate for a struct id: xxhash64 of its canonical
    JSON. Module-level so tests can monkeypatch a collision-prone stand-in
    to exercise the injectivity guard."""
    return F.xxhash64(F.to_json(F.col(c)))


def _assert_surrogate_injective(mp: DataFrame, surr_col: str, side: str):
    """One cheap agg on the (surrogate, original-id) map: count ==
    countDistinct(surrogate). A surrogate collision would fan out the
    restore join (two original ids claiming one surrogate row) — make
    that impossible instead of p ≈ n²/2⁶⁵-unlikely."""
    row = mp.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(surr_col).alias("d"),
    ).first()
    if row["n"] != row["d"]:
        raise ValueError(
            f"64-bit id surrogate collided on the {side} side "
            f"({row['n']} ids -> {row['d']} surrogates); rerun the exact "
            "dense path or raise the broadcast budget"
        )


def _lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int,
    dim: int,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
    lsh_conf: dict | None,
) -> DataFrame:
    """The embedding kernels' over-budget path, ``knn.lsh_cosine_topk``.
    The ANN kernels need scalar ids, so STRUCT ids bridge the 128-bit
    struct through a 64-bit surrogate (``_surrogate_expr``) and join the
    original struct ids back on. The surrogate maps are guarded injective
    (``_assert_surrogate_injective``) so a collision raises instead of
    silently fanning out the restore join. The EXACT dense paths never do
    this — they carry the full id through the codec."""
    from .knn import lsh_cosine_topk

    if corpus.schema[id_col].dataType.typeName() != "struct":
        return lsh_cosine_topk(
            queries, corpus, k=k, dim=dim, id_col=id_col, vec_col=vec_col,
            exclude_self=exclude_self, **(lsh_conf or {}),
        )
    q2 = queries.select(_surrogate_expr(id_col).alias(id_col), F.col(vec_col))
    c2 = (
        q2
        if queries is corpus
        else corpus.select(_surrogate_expr(id_col).alias(id_col), F.col(vec_col))
    )
    topk = lsh_cosine_topk(
        q2, c2, k=k, dim=dim, id_col=id_col, vec_col=vec_col,
        exclude_self=exclude_self, **(lsh_conf or {}),
    )
    qmap = queries.select(
        _surrogate_expr(id_col).alias("__qs"), F.col(id_col).alias("__qid")
    ).distinct()
    cmap = corpus.select(
        _surrogate_expr(id_col).alias("__cs"), F.col(id_col).alias("__cid")
    ).distinct()
    _assert_surrogate_injective(qmap, "__qs", "query")
    _assert_surrogate_injective(cmap, "__cs", "corpus")
    return (
        topk.join(qmap, topk["query_id"] == qmap["__qs"])
        .join(cmap, topk["neighbor_id"] == cmap["__cs"])
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("neighbor_id"),
            "rank",
            "cos_milli",
        )
    )


def _spread(df: DataFrame, n_rows: int) -> DataFrame:
    """Explicitly widen the streamed side of a dense kernel. The tiny
    shuffle outputs (or single parquet files) feeding these mapInPandas
    kernels get AQE-coalesced onto 1-3 tasks, which serializes the batch
    matmul; ~≥32 rows per partition keeps every BLAS call wide while never
    fanning small inputs into empty tasks."""
    n_part = max(
        1,
        min(df.sparkSession.sparkContext.defaultParallelism, n_rows // 32),
    )
    return df.repartition(n_part)


def topk_milli(
    milli: np.ndarray, to_cmp: np.ndarray, k: int, min_milli: int,
    q_cmp: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one per-row top-k of the dense and serving kernels. For each row
    i of an (n_q, n_to) milli matrix: the columns with milli ≥
    ``min_milli``, minus the column whose id equals ``q_cmp[i]`` when
    ``q_cmp`` is given (self-exclusion), ranked (milli desc, to_cmp asc) —
    the relational window's and the DuckDB oracles' tie-break (rank order
    == id order for struct ids, see _id_codec) — cut to k. Returns flat
    ``(row, col, rnk)`` int arrays, rnk 1-based."""
    rows, cols = [], []
    for i, row in enumerate(milli):
        keep = row >= min_milli
        if q_cmp is not None:
            keep &= to_cmp != q_cmp[i]
        ok = np.nonzero(keep)[0]
        cols.append(ok[np.lexsort((to_cmp[ok], -row[ok]))][:k])
        rows.append(np.full(cols[-1].size, i, dtype=np.int64))
    if not rows:
        return (np.empty(0, dtype=np.int64),) * 3
    rnk = np.concatenate([np.arange(1, c.size + 1) for c in cols])
    return np.concatenate(rows), np.concatenate(cols), rnk


def scatter_rows(ts, ws, dim: int) -> np.ndarray:
    """(len(ts), dim) dense float64 matrix of packed TF-IDF vectors (sorted
    dense vocab ids ``t`` + weights ``w`` per row)."""
    M = np.zeros((len(ts), dim))
    for i, (t, w) in enumerate(zip(ts, ws)):
        M[i, np.asarray(t, dtype=np.int64)] = np.asarray(w, dtype=np.float64)
    return M


def _topk_batches(
    bc_ids, bc_mat, k: int, min_milli: int, exclude_self: bool
):
    """mapInPandas kernel: batch matmul → per-row quantized top-k."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        to_emit, to_cmp, lookup = bc_ids.value
        to_mat = bc_mat.value  # (n_to, dim)
        for pdf in batches:
            if not len(pdf):
                continue
            from_ids = pdf["doc_id"].to_numpy()
            M = scatter_rows(pdf["t"], pdf["w"], to_mat.shape[1])
            milli = to_milli(M @ to_mat.T)
            q, c, rnk = topk_milli(
                milli, to_cmp, k, min_milli,
                _q_cmp(from_ids, lookup) if exclude_self else None,
            )
            yield pd.DataFrame(
                {"from_id": from_ids[q], "to_id": to_emit[c],
                 "sim_milli": milli[q, c], "rnk": rnk}
            )

    return gen


def tfidf_dense_topk_packed_two(
    from_packed: DataFrame,
    to_packed: DataFrame,
    dim: int,
    top_n: int = 1,
    min_similarity: float = 0.0,
    exclude_self: bool = False,
    n_to: int | None = None,
) -> DataFrame:
    """(from_id, to_id, sim_milli, rnk) — exact TF-IDF cosine top-n over
    PACKED vectors (doc_id, t: array<int> dense vocab ids, w:
    array<double>). The TO-side is collected into the broadcast matrix
    (ONE bounded collect: over the ``fits_broadcast`` budget the call is
    refused and callers take ``operators.adaptive``'s blocked path), the
    from-side streams through the batch-matmul kernel. Both sides MUST
    come from the same model's ``vectorize_packed_mapside`` (shared dense
    vocab ids); a self-match passes one frame twice with
    ``exclude_self=True``. ``n_to``: pre-computed to-side row count
    (skips the count job)."""
    spark = to_packed.sparkSession
    if n_to is None:
        n_to = to_packed.count()
    if not fits_broadcast(n_to, dim):
        raise ValueError(
            f"to-side ({n_to} docs x {dim} terms) exceeds the dense "
            "broadcast budget; use the blocked path "
            "(operators.adaptive.tfidf_transform_topk routes it)"
        )
    rows = to_packed.collect()
    codec = _id_codec([r["doc_id"] for r in rows])
    to_mat = scatter_rows([r["t"] for r in rows], [r["w"] for r in rows], dim)
    sc = spark.sparkContext
    bc_ids, bc_mat = sc.broadcast(codec), sc.broadcast(to_mat)
    min_milli = threshold_milli(min_similarity)
    from ..functions.ids import id_type

    return _spread(from_packed.select("doc_id", "t", "w"), n_to).mapInPandas(
        _topk_batches(bc_ids, bc_mat, top_n, min_milli, exclude_self),
        schema=_out_schema(id_type(from_packed, "doc_id")),
    )


def _normed(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    vec = F.col(vec_col).cast("array<double>")
    nrm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(vec, lambda x: x / nrm).alias("v"),
    )


def _embedding_corpus(corpus: DataFrame, id_col: str, vec_col: str):
    """The embedding kernels' one corpus step: ``(n, dim, broadcasts)``.

    ONE stats job for the broadcast gate (count + dim together: these
    small legs are scheduling-overhead-bound, every extra job is ~0.5 s).
    Within the ``fits_broadcast`` budget, the L2-normalized corpus is
    Arrow-collected (toPandas: ~an order of magnitude cheaper than Row
    deserialization for the fixed-width vector matrix) and broadcast as
    ``(bc_ids, bc_mat)`` with its id codec; over budget ``broadcasts`` is
    None and nothing is collected."""
    stats = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("d"),
    ).first()
    n_corpus = int(stats["n"])
    dim = int(stats["d"]) if stats["d"] is not None else 0
    if not fits_broadcast(n_corpus, dim):
        return n_corpus, dim, None
    c_pdf = _normed(corpus, id_col, vec_col).toPandas()
    sc = corpus.sparkSession.sparkContext
    return n_corpus, dim, (
        sc.broadcast(_id_codec(list(c_pdf["doc_id"]))),
        sc.broadcast(np.array(c_pdf["v"].tolist())),
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_conf: dict | None = None,
) -> DataFrame:
    """(from_id, to_id, cos_milli) — all UNORDERED pairs (from_id < to_id)
    with cosine ≥ threshold: embedding near-duplicate detection for
    training-data dedup.

    Within the broadcast budget: one streamed matmul against the broadcast
    normalized corpus, each batch emitting only above-threshold upper-
    triangle pairs (exact — oracle-checked). Over budget: LSH-bucketed
    candidates exactly re-scored and thresholded (recall < 1, the
    documented ANN tradeoff; precision stays 1 because scores are exact).
    """
    n_corpus, dim, bcs = _embedding_corpus(corpus, id_col, vec_col)
    min_milli = threshold_milli(threshold)
    if bcs is None:
        # LSH candidates with exact re-score ≥ threshold: reuse the bucketed
        # top-k machinery with k → corpus (every candidate above threshold
        # survives the window), then threshold + orient the pair — Spark
        # orders restored struct ids lexicographically by field.
        topk = _lsh_topk(
            corpus, corpus, k=n_corpus, dim=dim, id_col=id_col,
            vec_col=vec_col, exclude_self=True, lsh_conf=lsh_conf,
        )
        return (
            topk.where(
                (F.col("cos_milli") >= min_milli)
                & (F.col("query_id") < F.col("neighbor_id"))
            )
            .select(
                F.col("query_id").alias("from_id"),
                F.col("neighbor_id").alias("to_id"),
                "cos_milli",
            )
        )
    bc_ids, bc_mat = bcs

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        to_emit, to_cmp, lookup = bc_ids.value
        mat = bc_mat.value
        for pdf in batches:
            if not len(pdf):
                continue
            q_ids = pdf["doc_id"].to_numpy()
            q_cmp = _q_cmp(q_ids, lookup)
            Q = np.array([np.asarray(v) for v in pdf["v"]])
            milli = to_milli(Q @ mat.T)
            out_f, out_t, out_c = [], [], []
            for i in range(len(pdf)):
                # orientation by the codec's total order (== id order for
                # scalars, rank order for struct ids): each unordered pair
                # still emits exactly once
                keep = np.nonzero(
                    (milli[i] >= min_milli) & (to_cmp > q_cmp[i])
                )[0]
                out_f.extend([q_ids[i]] * len(keep))
                out_t.extend(to_emit[keep])
                out_c.extend(milli[i][keep])
            yield pd.DataFrame(
                {"from_id": out_f, "to_id": out_t, "cos_milli": out_c}
            )

    from ..functions.ids import id_type

    id_ddl = id_type(corpus, id_col)
    return _spread(_normed(corpus, id_col, vec_col), n_corpus).mapInPandas(
        gen, schema=f"from_id {id_ddl}, to_id {id_ddl}, cos_milli long"
    )


def embedding_dense_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    lsh_conf: dict | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos_milli) — exact embedding cosine
    top-k, corpus broadcast as one L2-normalized matrix, queries streamed
    through a batch matmul (replaces an n_q × n_c crossJoin).

    Size-adaptive: when the corpus exceeds the ``fits_broadcast`` budget the
    call degrades to the LSH-bucketed approximate path
    (``knn.lsh_cosine_topk``, same output contract, recall < 1 by design —
    the documented 100 TB shape). ``lsh_conf`` tunes that fallback
    (n_planes/n_tables/seed)."""
    n_corpus, dim, bcs = _embedding_corpus(corpus, id_col, vec_col)
    if bcs is None:
        return _lsh_topk(
            queries, corpus, k=k, dim=dim, id_col=id_col, vec_col=vec_col,
            exclude_self=exclude_self, lsh_conf=lsh_conf,
        )
    bc_ids, bc_mat = bcs

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        to_emit, to_cmp, lookup = bc_ids.value
        mat = bc_mat.value
        for pdf in batches:
            if not len(pdf):
                continue
            q_ids = pdf["doc_id"].to_numpy()
            Q = np.array([np.asarray(v) for v in pdf["v"]])
            milli = to_milli(Q @ mat.T)
            # every cosine is ≥ -1, so -1000 keeps all real scores and
            # drops only a zero vector's NaN (int64.min after the cast)
            q, c, rnk = topk_milli(
                milli, to_cmp, k, -1000,
                _q_cmp(q_ids, lookup) if exclude_self else None,
            )
            yield pd.DataFrame(
                {"query_id": q_ids[q], "neighbor_id": to_emit[c],
                 "rank": rnk, "cos_milli": milli[q, c]}
            )

    from ..functions.ids import id_type

    id_ddl = id_type(queries, id_col)
    return _spread(_normed(queries, id_col, vec_col), n_corpus).mapInPandas(
        gen,
        schema=(
            f"query_id {id_ddl}, neighbor_id {id_ddl}, rank int, "
            "cos_milli long"
        ),
    )
