"""Top-n selection + thresholding + output-shape parity (W1-W4, P3-P5).

Reference: per-from-row top-n via argpartition/argsort
(``/root/reference/polyfuzz/models/_utils.py:100-146``), similarity rounded
to 3 decimals, and sub-0.001 scores nulled to (To=None, Similarity=0.0)
(``_utils.py:119-123``). Every from-row appears in the output even with no
match.

Spark: row_number window partitioned by from_id. Tie-break: numpy
argpartition order is unspecified; we impose a deterministic ``to_id ASC``
and use the same rule in all oracles (documented divergence). The window
ranks on the similarity rounded to 9 decimals, so two identical vectors
tie whatever order their products were summed in (the term join sums in
shuffle order, and duplicate to-strings then differ in the last ulp);
1e-9 is far above that noise and far below the reported 1e-3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_n_matches(
    pairs: DataFrame,
    from_df: DataFrame,
    top_n: int = 1,
    min_similarity: float = 0.0,
) -> DataFrame:
    """Long-form matches: (from_id, from_key, to_id, rank, similarity).

    * pairs: (from_id, to_id, sim) from a scoring operator
    * from_df: (doc_id, key) — guarantees one rank-1 row per from string
      (to_id NULL, similarity 0.0 when nothing cleared the threshold)
    * threshold is applied BEFORE the window (pushdown analog of the
      reference's in-kernel min_similarity pruning, _utils.py:82)
    """
    if min_similarity > 0:
        pairs = pairs.where(F.col("sim") >= F.lit(min_similarity))
    w = Window.partitionBy("from_id").orderBy(
        F.round("sim", 9).desc(), F.asc("to_id")
    )
    ranked = (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .withColumn("sim_r", F.round("sim", 3))
        # sub-epsilon nulling on the ROUNDED value, like the reference
        .select(
            "from_id",
            F.when(F.col("sim_r") >= 0.001, F.col("to_id")).alias("to_id"),
            "rank",
            F.when(F.col("sim_r") >= 0.001, F.col("sim_r"))
            .otherwise(F.lit(0.0))
            .alias("similarity"),
        )
    )
    base = from_df.select(
        F.col("doc_id").alias("from_id"), F.col("key").alias("from_key")
    )
    return base.join(ranked, "from_id", "left").select(
        "from_id",
        "from_key",
        "to_id",
        F.coalesce(F.col("rank"), F.lit(1)).alias("rank"),
        F.coalesce(F.col("similarity"), F.lit(0.0)).alias("similarity"),
    )


def attach_to_keys(matches: DataFrame, to_df: DataFrame) -> DataFrame:
    """Join the to-side key back on (broadcast-able dimension join)."""
    dim = to_df.select(F.col("doc_id").alias("to_id"), F.col("key").alias("to_key"))
    return matches.join(dim, "to_id", "left").select(
        "from_id", "from_key", "to_id", "to_key", "rank", "similarity"
    )
