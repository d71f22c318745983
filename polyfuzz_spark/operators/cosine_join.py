"""Sparse cosine similarity as a relational term-join (operators J1/J2/J3).

Reference computes an all-pairs (sparse or dense) cosine matrix
(``/root/reference/polyfuzz/models/_utils.py:59-102``). In Spark the exact
same result is a **join, not a matrix**: two L2-normalized sparse vectors
have cosine = Σ_{shared terms} w_from · w_to, so

    from_vec ⋈_term to_vec  →  groupBy(from_id, to_id) Σ(w·w)

Pairs with zero shared terms never materialize (that's the sparsity), the
aggregation is map-side combinable, and the whole plan stays in
whole-stage codegen — no UDF anywhere.

Scale note: common terms (e.g. license-header trigrams at code scale) make
this join quadratic on hot keys. Above a size switch the callers swap to
blocked candidate generation (MinHash bands → capped banded equi-join) and
score only the candidates with ``score_candidates_packed`` over packed
map-side vectors (``mapside.vectorize_packed_mapside``) — the one scorer
the ER pipeline, the facade's blocked branch and the adaptive dispatchers
share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sparse_cosine_pairs(
    from_vec: DataFrame,
    to_vec: DataFrame,
    exclude_self: bool = False,
    min_similarity: float = 0.0,
    salt_df_above: int | None = 50_000,
) -> DataFrame:
    """(from_id, to_id, sim) for every pair sharing ≥1 term.

    ``exclude_self`` implements single-list mode (reference zeroes the
    diagonal, ``_utils.py:84-87,97-98``): join predicate from_id != to_id.

    ``salt_df_above``: terms whose to-side posting list exceeds this length
    get salted — the from side is split into ceil(df/salt_df_above) salt
    groups and the to side is replicated per group, so one hot term's
    quadratic fan-out spreads across n_salt shuffle partitions instead of
    landing on a single reducer. Result rows are identical (pure join-key
    refinement); this is the explicit skew handling the north rule asks for.
    """
    # alias + rename both sides so self-match (from_vec is to_vec) never hits
    # Spark's ambiguous self-join resolution
    f = from_vec.select(
        F.col("doc_id").alias("from_id"),
        F.col("term").alias("f_term"),
        F.col("weight").alias("w_from"),
    )
    t = to_vec.select(
        F.col("doc_id").alias("to_id"),
        F.col("term").alias("t_term"),
        F.col("weight").alias("w_to"),
    )
    if salt_df_above:
        hot = (
            t.groupBy("t_term")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > salt_df_above)
            .select(
                F.col("t_term").alias("hot_term"),
                F.ceil(F.col("df") / salt_df_above).cast("int").alias("n_salt"),
            )
        )
        f = (
            f.join(F.broadcast(hot), f["f_term"] == hot["hot_term"], "left")
            .withColumn(
                "salt",
                F.when(
                    F.col("n_salt").isNotNull(),
                    F.pmod(F.xxhash64("from_id"), F.col("n_salt")).cast("int"),
                ).otherwise(F.lit(0)),
            )
            .drop("hot_term", "n_salt")
        )
        t = (
            t.join(F.broadcast(hot), t["t_term"] == hot["hot_term"], "left")
            .withColumn(
                "salt",
                F.explode(
                    F.sequence(
                        F.lit(0), F.coalesce(F.col("n_salt"), F.lit(1)) - 1
                    )
                ),
            )
            .drop("hot_term", "n_salt")
        )
    else:
        f = f.withColumn("salt", F.lit(0))
        t = t.withColumn("salt", F.lit(0))
    cond = (F.col("f_term") == F.col("t_term")) & (
        f["salt"] == t["salt"]
    )
    if exclude_self:
        cond = cond & (F.col("from_id") != F.col("to_id"))
    pairs = (
        f.join(t, cond)
        .groupBy("from_id", "to_id")
        .agg(F.sum(F.col("w_from") * F.col("w_to")).alias("sim"))
    )
    if min_similarity > 0:
        pairs = pairs.where(F.col("sim") >= F.lit(min_similarity))
    return pairs


def score_candidates_packed(
    candidates: DataFrame,
    from_packed: DataFrame,
    to_packed: DataFrame,
) -> DataFrame:
    """(from_id, to_id, sim) — exact sparse dot for candidate pairs over
    PACKED vectors (doc_id, t: array<int> sorted, w: array<double>), the
    ``mapside.vectorize_packed_mapside`` output of ONE model (shared
    vocab ids on both sides). Candidates join two packed rows (a
    |cands|-row shuffle) and an Arrow kernel merge-intersects the sorted
    id arrays — no |cands|×|terms| fan-out anywhere."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    f = from_packed.select(
        F.col("doc_id").alias("from_id"),
        F.col("t").alias("from_t"),
        F.col("w").alias("from_w"),
    )
    t = to_packed.select(
        F.col("doc_id").alias("to_id"),
        F.col("t").alias("to_t"),
        F.col("w").alias("to_w"),
    )
    # explicit partition count: AQE coalesces by the candidate table's tiny
    # input size (16 B/row) and would run the fat packed join + the Python
    # kernel on a handful of tasks; the join OUTPUT is ~10 KB/row.
    # (A pre-repartition(doc_id) of the packed side to share one exchange
    # across both joins was tried and measured WORSE: AQE broadcast-joins
    # the packed side whenever it fits — the explicit shuffle becomes pure
    # overhead — and Catalyst does not reuse the exchange across the two
    # differently-aliased projections. The join-1 output re-keyed by to_id
    # is the inherent fat shuffle of pair scoring either way.)
    # Arrow batch size: raising spark.sql.execution.arrow.maxRecordsPerBatch
    # 10k → 40k was A/B'd on this stage (250k docs, 8 threads, adjacent
    # pairs): 3 wins / 1 loss, −5%..+19% — inside host noise, while the
    # per-task Arrow buffer grows 4× (join output rows are ~2-4 KB packed
    # vectors; 40k rows ≈ 80-160 MB/batch, risky on standard executors).
    # Kept at the Spark default.
    n_part = candidates.sparkSession.sparkContext.defaultParallelism * 8
    joined = (
        candidates.repartition(n_part, "from_id")
        .join(f, "from_id")
        .join(t, "to_id")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-pair merge loop ON PURPOSE. A whole-batch variant (rank-map
        # all tids via one np.unique, pair-strided keys, one searchsorted)
        # was A/B-microbenched SLOWER at every measured shape: 1.5-2.4x on
        # the real ER corpus (~160 distinct trigrams/doc, real MinHash
        # candidate pairs, 1k-10k-row batches, interleaved reps) and 7-96x
        # on long-document shapes (600-1500 terms/doc, full-range int64
        # hashes). The global sort/binary-search over the batch's
        # concatenated term ids (MBs, cache-hostile) loses to tiny
        # cache-resident per-pair searchsorted calls; ~23 us/pair total
        # here, loop overhead included.
        for pdf in batches:
            sims = np.empty(len(pdf))
            for i, (ft, fw, tt, tw) in enumerate(
                zip(pdf["from_t"], pdf["from_w"], pdf["to_t"], pdf["to_w"])
            ):
                a = np.asarray(ft, dtype=np.int64)
                b = np.asarray(tt, dtype=np.int64)
                # both sorted → intersect via searchsorted (merge join)
                idx = np.searchsorted(b, a)
                idx_ok = idx < len(b)
                hit = np.zeros(len(a), dtype=bool)
                hit[idx_ok] = b[idx[idx_ok]] == a[idx_ok]
                sims[i] = float(
                    np.asarray(fw, dtype=np.float64)[hit]
                    @ np.asarray(tw, dtype=np.float64)[idx[hit]]
                )
            yield pd.DataFrame(
                {
                    "from_id": pdf["from_id"],
                    "to_id": pdf["to_id"],
                    "sim": sims,
                }
            )

    from ..functions.ids import id_type

    # id types follow the candidate table (long, 128-bit struct, string —
    # the kernel passes ids through untouched)
    f_ddl = id_type(candidates, "from_id")
    t_ddl = id_type(candidates, "to_id")
    return joined.mapInPandas(
        gen, schema=f"from_id {f_ddl}, to_id {t_ddl}, sim double"
    )
