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

Scores are quantized to integer milli-units (half-up: floor(x*1000+0.5),
identical for x ≥ 0 to the relational two-step floor(round(x,3)*1000+0.5)
— the 0.5 slack absorbs the ~1e-13 representation wobble of the /1000 step)
INSIDE the kernel and ranked by (milli desc, to_id asc) — bit-identical to
the engine's relational top-k and to the DuckDB oracles.

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


def _lsh_topk_struct_bridged(
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
    """LSH top-k for STRUCT-id inputs: the ANN kernels need scalar ids, so
    bridge the 128-bit struct through a 64-bit surrogate
    (``_surrogate_expr``), run ``knn.lsh_cosine_topk``, and join the
    original struct ids back on. The surrogate maps are guarded injective
    (``_assert_surrogate_injective``) so a collision raises instead of
    silently fanning out the restore join. The EXACT dense paths never do
    this — they carry the full id through the codec."""
    from .knn import lsh_cosine_topk

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
            n = len(pdf)
            M = np.zeros((n, to_mat.shape[1]))
            from_ids = pdf["doc_id"].to_numpy()
            f_cmp = _q_cmp(from_ids, lookup)
            for i, (tids, ws) in enumerate(zip(pdf["t"], pdf["w"])):
                M[i, np.asarray(tids, dtype=np.int64)] = np.asarray(ws)
            sims = M @ to_mat.T
            # half-up milli quantization (== floor(round(x,3)*1000+0.5) for
            # x >= 0; explicit so numpy's banker's rounding never enters)
            milli = np.floor(sims * 1000 + 0.5).astype(np.int64)
            out_f, out_t, out_s, out_r = [], [], [], []
            for i in range(n):
                row = milli[i]
                if exclude_self:
                    row = np.where(to_cmp == f_cmp[i], -1, row)
                ok = np.nonzero(row >= min_milli)[0]
                if not len(ok):
                    continue
                # (milli desc, to_id asc) — identical tie-break to the
                # relational window / DuckDB oracle (rank order == id
                # order for struct ids, see _id_codec)
                order = ok[np.lexsort((to_cmp[ok], -row[ok]))][:k]
                out_f.extend([from_ids[i]] * len(order))
                out_t.extend(to_emit[order])
                out_s.extend(row[order])
                out_r.extend(range(1, len(order) + 1))
            yield pd.DataFrame(
                {"from_id": out_f, "to_id": out_t, "sim_milli": out_s,
                 "rnk": out_r}
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
    to_mat = np.zeros((len(rows), dim))
    for i, r in enumerate(rows):
        to_mat[i, np.asarray(r["t"], dtype=np.int64)] = np.asarray(
            r["w"], dtype=np.float64
        )
    sc = spark.sparkContext
    bc_ids, bc_mat = sc.broadcast(codec), sc.broadcast(to_mat)
    min_milli = int(np.floor(round(min_similarity, 3) * 1000 + 0.5)) if (
        min_similarity > 0
    ) else 0
    from ..functions.ids import id_type

    return _spread(from_packed.select("doc_id", "t", "w"), n_to).mapInPandas(
        _topk_batches(bc_ids, bc_mat, top_n, min_milli, exclude_self),
        schema=_out_schema(id_type(from_packed, "doc_id")),
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
    spark = corpus.sparkSession
    # ONE stats job for the broadcast gate (count + dim together): these
    # small legs are scheduling-overhead-bound, every extra job is ~0.5 s
    stats = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("d"),
    ).first()
    n_corpus = int(stats["n"])
    dim = int(stats["d"]) if stats["d"] is not None else 0
    min_milli = int(round(threshold * 1000))
    if not fits_broadcast(n_corpus, dim):
        from .knn import lsh_cosine_topk

        # LSH candidates with exact re-score ≥ threshold: reuse the bucketed
        # top-k machinery with k → corpus (every candidate above threshold
        # survives the window), then threshold + orient the pair. Struct
        # ids take the guarded 64-bit surrogate bridge (the ANN kernels
        # need scalar ids); the pair orientation below works unchanged —
        # Spark orders structs lexicographically by field.
        if corpus.schema[id_col].dataType.typeName() == "struct":
            topk = _lsh_topk_struct_bridged(
                corpus, corpus, k=n_corpus, dim=dim, id_col=id_col,
                vec_col=vec_col, exclude_self=True, lsh_conf=lsh_conf,
            )
        else:
            topk = lsh_cosine_topk(
                corpus, corpus, k=n_corpus, dim=dim, id_col=id_col,
                vec_col=vec_col, exclude_self=True, **(lsh_conf or {}),
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

    def normed(df: DataFrame) -> DataFrame:
        vec = F.col(vec_col).cast("array<double>")
        nrm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.transform(vec, lambda x: x / nrm).alias("v"),
        )

    # Arrow collect (toPandas): ~an order of magnitude cheaper than Row
    # deserialization for the fixed-width vector matrix
    c_pdf = normed(corpus).toPandas()
    codec = _id_codec(list(c_pdf["doc_id"]))
    to_mat = np.array(c_pdf["v"].tolist())
    bc_ids = spark.sparkContext.broadcast(codec)
    bc_mat = spark.sparkContext.broadcast(to_mat)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        to_emit, to_cmp, lookup = bc_ids.value
        mat = bc_mat.value
        for pdf in batches:
            if not len(pdf):
                continue
            q_ids = pdf["doc_id"].to_numpy()
            q_cmp = _q_cmp(q_ids, lookup)
            Q = np.array([np.asarray(v) for v in pdf["v"]])
            milli = np.floor(Q @ mat.T * 1000 + 0.5).astype(np.int64)
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
    return _spread(normed(corpus), n_corpus).mapInPandas(
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
    spark = queries.sparkSession
    # ONE stats job (count + dim) — see embedding_near_dup_pairs
    stats = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("d"),
    ).first()
    n_corpus = int(stats["n"])
    dim = int(stats["d"]) if stats["d"] is not None else 0
    if not fits_broadcast(n_corpus, dim):
        from .knn import lsh_cosine_topk

        if corpus.schema[id_col].dataType.typeName() == "struct":
            return _lsh_topk_struct_bridged(
                queries, corpus, k=k, dim=dim, id_col=id_col,
                vec_col=vec_col, exclude_self=exclude_self,
                lsh_conf=lsh_conf,
            )
        return lsh_cosine_topk(
            queries, corpus, k=k, dim=dim, id_col=id_col, vec_col=vec_col,
            exclude_self=exclude_self, **(lsh_conf or {}),
        )

    def normed(df: DataFrame) -> DataFrame:
        vec = F.col(vec_col).cast("array<double>")
        nrm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.transform(vec, lambda x: x / nrm).alias("v"),
        )

    c_pdf = normed(corpus).toPandas()  # Arrow collect, see near_dup twin
    codec = _id_codec(list(c_pdf["doc_id"]))
    to_mat = np.array(c_pdf["v"].tolist())
    sc = spark.sparkContext
    bc_ids, bc_mat = sc.broadcast(codec), sc.broadcast(to_mat)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        to_emit, to_cmp, lookup = bc_ids.value
        mat = bc_mat.value
        for pdf in batches:
            if not len(pdf):
                continue
            q_ids = pdf["doc_id"].to_numpy()
            q_cmp = _q_cmp(q_ids, lookup)
            Q = np.array([np.asarray(v) for v in pdf["v"]])
            milli = np.floor(Q @ mat.T * 1000 + 0.5).astype(np.int64)
            out = {"query_id": [], "neighbor_id": [], "rank": [],
                   "cos_milli": []}
            for i in range(len(pdf)):
                row = milli[i]
                if exclude_self:
                    # sentinel below any real milli-cosine (≥ -1000); NOT
                    # int64.min, whose negation overflows in the sort key
                    row = np.where(to_cmp == q_cmp[i], -(10 ** 9), row)
                keep = np.nonzero(row > -(10 ** 9))[0]
                order = keep[np.lexsort((to_cmp[keep], -row[keep]))][:k]
                out["query_id"].extend([q_ids[i]] * len(order))
                out["neighbor_id"].extend(to_emit[order])
                out["rank"].extend(range(1, len(order) + 1))
                out["cos_milli"].extend(row[order])
            yield pd.DataFrame(out)

    from ..functions.ids import id_type

    id_ddl = id_type(queries, id_col)
    return _spread(normed(queries), n_corpus).mapInPandas(
        gen,
        schema=(
            f"query_id {id_ddl}, neighbor_id {id_ddl}, rank int, "
            "cos_milli long"
        ),
    )
