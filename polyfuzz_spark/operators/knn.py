"""Similarity search over embedding columns (K4's scale path + ANN).

* ``cosine_topk`` — exact brute-force top-k via a crossJoin and a JVM-side
  ``aggregate(zip_with(...))`` dot product (the correctness baseline; at
  cluster scale only for small query sets against a broadcast corpus).
* ``lsh_cosine_topk`` — random-hyperplane LSH: sign-bit signatures bucket
  the corpus, candidates come from same-bucket joins (multi-probe via
  several independent tables), exact cosine re-scores candidates. The scale
  path: each table join is an equi-join on a 16-bit key.
* ``ivf_cosine_topk`` — inverted-file ANN: spherical k-means coarse
  centroids (trained on a deterministic bounded hash-sample, Lloyd's in
  numpy on the driver), corpus partitioned into cells map-side, queries
  probe their ``n_probe`` nearest cells via one equi-join, candidates
  exactly re-scored. Tunable recall/cost via (n_cells, n_probe); unlike
  LSH the cell count directly bounds join fan-out (≈ n/n_cells per cell).

Projection hyperplanes / centroids are generated or trained from a seeded
numpy RNG on the driver — deterministic, broadcast-small.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.milli import milli, to_milli


def _norm_vec(df: DataFrame, id_out: str, vec_out: str,
              id_col: str, vec_col: str) -> DataFrame:
    from ..partitioning import ensure_min_partitions

    # the ANN kernels sort/compare ids as int64 numpy arrays; 128-bit
    # struct ids (functions/ids.py) are supported on the exact dense paths
    # (dense_cosine._id_codec) but not yet here — refuse loudly rather
    # than corrupt tie-breaks. ANN callers with struct ids should attach a
    # scalar surrogate id per bounded bucket, where 64 bits are safe.
    dt = df.schema[id_col].dataType.typeName()
    if dt == "struct":
        raise NotImplementedError(
            f"ANN top-k does not support struct ids ({id_col}); supply a "
            "scalar id column (64-bit is collision-safe within bounded "
            "buckets) or use the exact dense path"
        )
    vec = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    # every ANN path feeds this into a numpy mapInPandas kernel — widen
    # narrow single-file reads so the kernel fans out
    return ensure_min_partitions(df).select(
        F.col(id_col).alias(id_out),
        F.transform(vec, lambda x: x / norm).alias(vec_out),
    )


def _dot(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos_milli) exact top-k by cosine.
    Deterministic tie-break: neighbor_id ASC on equal milli-rounded score."""
    q = _norm_vec(queries, "query_id", "q_vec", id_col, vec_col)
    c = _norm_vec(corpus, "neighbor_id", "c_vec", id_col, vec_col)
    pairs = q.crossJoin(c)
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        milli(_dot("q_vec", "c_vec")).alias("cos_milli"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_milli"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_milli")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


_SELF_MASK = -(1 << 62)  # sentinel milli for masked self-pairs
_Q_CHUNK = 2048  # bounds the per-kernel similarity matrix to chunk × |cell|


def _grouped_topk(
    tagged: DataFrame,
    bucket_cols: list[str],
    k: int,
    exclude_self: bool,
) -> DataFrame:
    """Per-bucket exact top-k: ``tagged`` holds BOTH sides of each bucket
    (``is_q`` flags query rows; ``id``/``v`` are the id and L2-normalized
    vector), grouped by ``bucket_cols``; one numpy matmul per bucket scores
    every (query, member) pair in it and emits each query's local top-k by
    (cos_milli DESC, neighbor_id ASC).

    This replaces the old shape — materialize all candidate PAIRS, re-join
    both vector sides onto them, evaluate a JVM ``aggregate(zip_with)`` dot
    per pair, then window over millions of rows — with one bucket-key
    shuffle and a BLAS matmul per group. The local-top-k → global-top-k
    reduction is exact: (cos_milli DESC, neighbor_id ASC) is a total order
    within a bucket (member ids are unique per bucket), so any pair in the
    global top-k is within the top-k of every bucket that contains it.
    Per-group memory is bounded by ``_Q_CHUNK × |members|`` (queries are
    chunked); the caller bounds |members| via its bucket geometry
    (IVF: ≈ n/n_cells; LSH: bucket population) and bounds the queries per
    group via salting when buckets are few or hot."""
    def kern(pdf):
        import pandas as pd

        q = pdf[pdf["is_q"]]
        c = pdf[~pdf["is_q"]]
        if not len(q) or not len(c):
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int64"),
                 "neighbor_id": pd.Series(dtype="int64"),
                 "cos_milli": pd.Series(dtype="int64")}
            )
        # member order = neighbor_id ASC so that a stable argsort on
        # -milli yields exactly the (milli DESC, neighbor_id ASC) contract
        c = c.sort_values("id")
        c_ids = c["id"].to_numpy()
        C = np.array([np.asarray(v) for v in c["v"]])
        q_ids_all = q["id"].to_numpy()
        Q_all = np.array([np.asarray(v) for v in q["v"]])
        out_q, out_n, out_m = [], [], []
        kk = min(k, len(c_ids))
        for lo in range(0, len(q_ids_all), _Q_CHUNK):
            q_ids = q_ids_all[lo:lo + _Q_CHUNK]
            milli = to_milli(Q_all[lo:lo + _Q_CHUNK] @ C.T)
            if exclude_self:
                milli[q_ids[:, None] == c_ids[None, :]] = _SELF_MASK
            idx = np.argsort(-milli, axis=1, kind="stable")[:, :kk]
            top = np.take_along_axis(milli, idx, axis=1)
            keep = top > _SELF_MASK
            out_q.append(np.repeat(q_ids, kk)[keep.ravel()])
            out_n.append(c_ids[idx.ravel()][keep.ravel()])
            out_m.append(top.ravel()[keep.ravel()])
        return pd.DataFrame(
            {"query_id": np.concatenate(out_q),
             "neighbor_id": np.concatenate(out_n),
             "cos_milli": np.concatenate(out_m)}
        )

    local = tagged.groupBy(*bucket_cols).applyInPandas(
        kern, schema="query_id long, neighbor_id long, cos_milli long"
    )
    # a (query, neighbor) pair can surface from several buckets (LSH
    # tables; query-salt replicas) with an identical score — max() is the
    # dedup. The surviving set is tiny (≤ buckets_probed × k per query).
    dd = local.groupBy("query_id", "neighbor_id").agg(
        F.max("cos_milli").alias("cos_milli")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_milli"), F.asc("neighbor_id")
    )
    return (
        dd.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_milli")
    )


def _salt_for(n_buckets: int, parallelism: int) -> int:
    """Query-side salt so few/hot buckets still fan out: split each
    bucket's queries across ``s`` sub-groups (members replicated ``s``×),
    keeping total groups ≈ 4× the core count without inflating the member
    shuffle when buckets are already plentiful."""
    return max(1, -(-4 * parallelism // max(n_buckets, 1)))


def _tag_and_salt(
    q_rows: DataFrame,
    c_rows: DataFrame,
    bucket_cols: list[str],
    salt: int,
    member_salt: int = 1,
) -> tuple[DataFrame, list[str]]:
    """Union the two sides of every bucket under one schema, optionally
    splitting each bucket into a (query-lane × member-lane) grid.

    ``salt`` (query lanes): queries hash into one lane, members replicate
    across all of them — bounds the queries a single task scores.
    ``member_salt`` (member lanes): members hash into one lane, queries
    replicate across all of them — bounds a DEGENERATE HOT BUCKET's member
    matrix (the one way the per-bucket kernel could concentrate a huge
    group on one task). Both are RECALL-NEUTRAL and keep the top-k exact:
    every (q, c) bucket pair co-occurs in exactly one grid cell
    (q's lane × c's lane), and a per-cell top-k over a candidate SUBSET
    still contains every global-top-k pair (the same local→global
    total-order argument as ``_grouped_topk``); the global dedup + window
    then merges the per-cell winners. Replication cost: queries × m,
    members × s."""
    q_t = q_rows.select(
        *bucket_cols, F.col("query_id").alias("id"),
        F.col("v"), F.lit(True).alias("is_q"),
    )
    c_t = c_rows.select(
        *bucket_cols, F.col("neighbor_id").alias("id"),
        F.col("v"), F.lit(False).alias("is_q"),
    )
    keys = list(bucket_cols)
    if salt > 1:
        # cast to int so both union branches carry the same type (explode
        # of sequence(int, int) yields int on the replicated side)
        q_t = q_t.withColumn(
            "qs", F.pmod(F.xxhash64("id"), F.lit(salt)).cast("int")
        )
        c_t = c_t.withColumn(
            "qs", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        keys.append("qs")
    if member_salt > 1:
        q_t = q_t.withColumn(
            "cs", F.explode(F.sequence(F.lit(0), F.lit(member_salt - 1)))
        )
        c_t = c_t.withColumn(
            "cs", F.pmod(F.xxhash64("id"), F.lit(member_salt)).cast("int")
        )
        keys.append("cs")
    return q_t.unionByName(c_t), keys


def _spherical_kmeans(X: np.ndarray, n_cells: int, seed: int,
                      iters: int = 10) -> np.ndarray:
    """Lloyd's iterations with cosine assignment on L2-normalized rows:
    assign by max dot, recenter by renormalized mean. Empty cells re-seed
    from the training rows (deterministic RNG). Returns (n_cells, dim)."""
    rng = np.random.default_rng(seed)
    n = len(X)
    n_cells = min(n_cells, n)
    C = X[rng.choice(n, size=n_cells, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        newC = np.zeros_like(C)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                m = members.sum(axis=0)
                nrm = np.linalg.norm(m)
                newC[c] = m / nrm if nrm > 0 else X[rng.integers(n)]
            else:
                newC[c] = X[rng.integers(n)]
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    return C


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_cells: int = 64,
    n_probe: int = 8,
    train_size: int = 10_000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    member_salt: int = 1,
    compact: bool = False,
) -> DataFrame:
    """Approximate top-k via an inverted file: same output contract as
    ``cosine_topk`` ((query_id, neighbor_id, rank, cos_milli)), neighbors
    drawn from each query's ``n_probe`` nearest coarse cells and exactly
    re-scored. Recall < 1 by design — evaluated, not oracle-matched.

    Scale shape: training collects a BOUNDED deterministic hash-sample
    (``orderBy(hash).limit(train_size)`` → per-partition top-N heap, no
    global sort); assignment and probing are map-side matmuls against the
    broadcast (n_cells × dim) centroid matrix; the only shuffle is the
    (cell) equi-join whose fan-out is ≈ n_probe · n/n_cells per query."""
    spark = queries.sparkSession
    # the normalized corpus feeds training, assignment AND scoring —
    # materialize once; self-match reuses it for the query side too (no
    # second normalization pass), otherwise the query side is checkpointed
    # itself because it feeds both cell probing and final re-scoring
    c = _norm_vec(corpus, "neighbor_id", "c_vec", id_col, vec_col)
    c = c.localCheckpoint(eager=True)
    if queries is corpus:
        q = c.select(
            F.col("neighbor_id").alias("query_id"),
            F.col("c_vec").alias("q_vec"),
        )
    else:
        q = _norm_vec(
            queries, "query_id", "q_vec", id_col, vec_col
        ).localCheckpoint(eager=True)

    sample = (
        c.select("c_vec", F.xxhash64(F.col("neighbor_id").cast("string")).alias("h"))
        .orderBy("h")
        .limit(train_size)
        .collect()
    )
    X = np.array([r["c_vec"] for r in sample])
    C = _spherical_kmeans(X, n_cells, seed)
    bc_c = spark.sparkContext.broadcast(C)

    def cell_rows(id_name: str, vec_name: str, top: int):
        from collections.abc import Iterator

        import pandas as pd

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cent = bc_c.value
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array([np.asarray(v) for v in pdf[vec_name]])
                sims = V @ cent.T
                if top == 1:
                    cells = np.argmax(sims, axis=1)[:, None]
                else:
                    t = min(top, sims.shape[1])
                    cells = np.argpartition(-sims, t - 1, axis=1)[:, :t]
                n_rep = cells.shape[1]
                vs = (
                    [np.asarray(v, dtype=np.float32) for v in pdf[vec_name]]
                    if compact
                    else list(pdf[vec_name])
                )
                yield pd.DataFrame(
                    {id_name: np.repeat(pdf[id_name].to_numpy(), n_rep),
                     "cell": cells.ravel().astype(np.int32),
                     # the normalized vector rides along to the scoring
                     # kernel — ~dim·8 B per row beats re-joining the full
                     # vector table onto every candidate PAIR downstream
                     "v": [v for v in vs for _ in range(n_rep)]}
                )

        return gen

    # compact: float32 vectors through the (replicated) bucket shuffle —
    # halves the dominant shuffle bytes and runs the kernel matmul in
    # float32. Milli scores can flip at .0005 rounding boundaries, so the
    # oracle-exact paths (fullprobe contract twin) must keep the default.
    vec_t = "v array<float>" if compact else "v array<double>"
    c_cells = c.select("neighbor_id", "c_vec").mapInPandas(
        cell_rows("neighbor_id", "c_vec", 1),
        schema=f"neighbor_id long, cell int, {vec_t}",
    )
    q_cells = q.select("query_id", "q_vec").mapInPandas(
        cell_rows("query_id", "q_vec", n_probe),
        schema=f"query_id long, cell int, {vec_t}",
    )
    # one numpy matmul per (cell [, salt lane]) scores every probing query
    # against the cell's members — no pair materialization, no per-pair
    # JVM dot, no window over the candidate blow-up. Salt keeps task
    # fan-out ≈ 4×cores when n_cells < cores and bounds hot-cell groups.
    salt = _salt_for(n_cells, spark.sparkContext.defaultParallelism)
    tagged, keys = _tag_and_salt(
        q_cells, c_cells, ["cell"], salt, member_salt=member_salt
    )
    return _grouped_topk(tagged, keys, k, exclude_self)


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    member_salt: int = 1,
    compact: bool = False,
) -> DataFrame:
    """Approximate top-k: same output shape as ``cosine_topk`` but neighbors
    are drawn from LSH-bucket candidates (union over n_tables independent
    sign-bit tables), exactly re-scored. Recall < 1 by design — evaluated,
    not oracle-matched. ``member_salt`` > 1 splits each bucket's MEMBERS
    across hash lanes (queries replicated) — the recall-neutral guard for
    clustered corpora where too-few planes concentrate a hot bucket on one
    task (see ``_tag_and_salt``)."""
    # each normalized side feeds bucket generation AND final re-scoring —
    # materialize once per side (self-match reuses the corpus side)
    c = _norm_vec(
        corpus, "neighbor_id", "c_vec", id_col, vec_col
    ).localCheckpoint(eager=True)
    if queries is corpus:
        q = c.select(
            F.col("neighbor_id").alias("query_id"),
            F.col("c_vec").alias("q_vec"),
        )
    else:
        q = _norm_vec(
            queries, "query_id", "q_vec", id_col, vec_col
        ).localCheckpoint(eager=True)
    # sign-bit buckets for ALL tables in one numpy matmul per Arrow batch
    # (V @ P.T > 0, bits packed per table) — replaces n_tables × n_planes
    # chained JVM array-aggregates per row; one equi-join on (table, bucket)
    P = np.vstack(
        [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )  # (n_tables*n_planes, dim)
    bc_p = queries.sparkSession.sparkContext.broadcast(P)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def bucket_rows(id_name: str):
        from collections.abc import Iterator

        import pandas as pd

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            planes = bc_p.value
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array([np.asarray(v) for v in pdf["v"]])
                bits = (V @ planes.T > 0).astype(np.int64)
                bits = bits.reshape(len(pdf), n_tables, n_planes)
                keys = (bits * weights[None, None, :]).sum(axis=2)
                ids = np.repeat(pdf[id_name].to_numpy(), n_tables)
                tbls = np.tile(np.arange(n_tables), len(pdf))
                vs = (
                    [np.asarray(v, dtype=np.float32) for v in pdf["v"]]
                    if compact
                    else list(pdf["v"])
                )
                yield pd.DataFrame(
                    {id_name: ids, "tbl": tbls, "bk": keys.ravel(),
                     # vector rides along to the per-bucket scoring kernel
                     "v": [v for v in vs for _ in range(n_tables)]}
                )

        return gen

    # compact: see ivf_cosine_topk — float32 through the n_tables-replicated
    # bucket shuffle (the dominant bytes of this operator)
    vec_t = "v array<float>" if compact else "v array<double>"
    qb = q.select(F.col("query_id"), F.col("q_vec").alias("v")).mapInPandas(
        bucket_rows("query_id"),
        schema=f"query_id long, tbl int, bk long, {vec_t}",
    )
    cb = c.select(
        F.col("neighbor_id"), F.col("c_vec").alias("v")
    ).mapInPandas(
        bucket_rows("neighbor_id"),
        schema=f"neighbor_id long, tbl int, bk long, {vec_t}",
    )
    # one matmul per (table, bucket [, salt lane]); a pair found in
    # several tables dedups in _grouped_topk's (query, neighbor) max.
    salt = _salt_for(
        n_tables * (1 << n_planes),
        queries.sparkSession.sparkContext.defaultParallelism,
    )
    tagged, keys = _tag_and_salt(
        qb, cb, ["tbl", "bk"], salt, member_salt=member_salt
    )
    return _grouped_topk(tagged, keys, k, exclude_self)
