"""Edit-distance matchers (operators J5/J6, kernels K2/K3, agg A2).

Reference: ``/root/reference/polyfuzz/models/_rapidfuzz.py:85-113``
(extractOne scan: WRatio, score_cutoff×100, output÷100) and
``_distance.py:77-102`` (argmax scan with pluggable scorer + min-max
normalize, A2 at ``_distance.py:83-86``).

The reference parallelizes with joblib processes per from-string. Here
scoring has two tiers, and ranking is the same Spark operators for both
(``top_n_matches`` or the argmax window, then ``attach_to_keys``):

* **driver** — an unblocked scan of at most
  ``matchers.EDIT_DRIVER_MAX_PAIRS`` pairs (n_from × n_to): one bounded
  Arrow collect per side, every pair scored on the driver, and the pairs
  that can reach their row's top n handed on as local relations.
* **Spark** — everything else: a candidate join + one vectorized pandas
  UDF over Arrow batches of pairs, so the Python boundary is crossed once
  per batch, not per row. At scale, candidates come from blocking (same
  J1 path as TF-IDF) instead of the small-N crossJoin.

Both tiers score through one kernel lookup (``kernels.PAIR_KERNELS``), so
they run the same float operations and give identical rows.

Self-match note: the reference RapidFuzz MUTATES the shared to_list
(``_rapidfuzz.py:103-104`` ``to_list.remove``) making results order- and
n_jobs-dependent; we implement the intended semantics (from_id != to_id)
like the reference's EditDistance does (``_distance.py:93-96``).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..matchers import BaseSparkMatcher
from ..operators.topk import attach_to_keys, top_n_matches


KNOWN_KERNELS = (
    "ratio", "partial_ratio", "token_sort_ratio", "token_set_ratio",
    "token_ratio", "partial_token_ratio", "WRatio", "QRatio",
    "jaro", "jaro_winkler", "levenshtein_sim", "monge_elkan",
)

# kernels already on [0, 1] — consumers that normalize percent kernels by
# /100 must skip these (api.score_pairs dispatches on this set)
UNIT_SCALE_KERNELS = frozenset({"monge_elkan", "jaro_winkler_unit"})


def validate_kernel(name: str) -> str:
    if name not in KNOWN_KERNELS:
        raise ValueError(
            f"unknown scorer kernel {name!r}; choose one of {KNOWN_KERNELS}"
        )
    return name


def pair_scorer_udf(kernel: str):
    """Vectorized pandas UDF scoring (from_key, to_key) pairs with a named
    kernel of ``scorers.kernels.PAIR_KERNELS`` (resolved inside the UDF so
    only the name is pickled; the module ships to executors via
    --py-files)."""

    @pandas_udf("double")
    def score(a: pd.Series, b: pd.Series) -> pd.Series:
        from polyfuzz_spark.scorers.kernels import PAIR_KERNELS

        fn = PAIR_KERNELS[kernel]
        av = a.fillna("").to_numpy()
        bv = b.fillna("").to_numpy()
        return pd.Series([fn(x, y) for x, y in zip(av, bv)], dtype="float64")

    return score


def _scored_pairs(
    from_df: DataFrame, to_df: DataFrame | None, scorer: str, scale: float,
    top_n: int, use_blocking: bool | None, blocking_conf: dict | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(pairs(from_id, to_id, sim), from_effective, to_effective) with
    sim = scorer(from_key, to_key) / scale; a self-match (``to_df`` None)
    scores only from_id != to_id.

    The driver tier (``_driver_pairs``) serves an unblocked scan that fits
    it (``_collect_sides``) and hands on only the pairs that can reach
    their row's top ``top_n``; the Spark tier scores every candidate pair.
    ``use_blocking=None`` = size-adaptive, same rule as TFIDFMatcher: the
    full crossJoin scan is quadratic, so above
    ``matchers.AUTO_BLOCKING_MIN_DOCS`` total docs candidates come from
    banded MinHash blocking instead (the reference's extractOne scans every
    to-string; at corpus scale that is the blocked candidate set)."""
    exclude_self = to_df is None
    n_from = None  # the from-side's size, when the gate collected it whole
    if use_blocking is not True:
        f_pdf, t_pdf = _collect_sides(from_df, to_df, use_blocking)
        if t_pdf is not None:
            return _driver_pairs(from_df, to_df, f_pdf, t_pdf, scorer,
                                 scale, top_n)
        if f_pdf is not None:
            n_from = len(f_pdf)
    to_eff = to_df if to_df is not None else from_df
    f = from_df.select(
        F.col("doc_id").alias("from_id"), F.col("key").alias("f_key")
    )
    t = to_eff.select(F.col("doc_id").alias("to_id"), F.col("key").alias("t_key"))
    if use_blocking is None:
        from ..matchers import AUTO_BLOCKING_MIN_DOCS

        n_total = (from_df.count() if n_from is None else n_from) + (
            0 if exclude_self else to_eff.count()
        )
        use_blocking = n_total > AUTO_BLOCKING_MIN_DOCS
    if use_blocking:
        from ..operators.blocking import minhash_candidates

        cand = minhash_candidates(from_df, to_df, **(blocking_conf or {}))
        pairs = cand.join(f, "from_id").join(t, "to_id")
    else:
        pairs = f.crossJoin(t)
    if exclude_self:
        pairs = pairs.where(F.col("from_id") != F.col("to_id"))
    raw = pair_scorer_udf(scorer)(F.col("f_key"), F.col("t_key"))
    return (
        pairs.select("from_id", "to_id", (raw / scale).alias("sim")),
        from_df,
        to_eff,
    )


def _collect_sides(
    from_df: DataFrame, to_df: DataFrame | None, use_blocking: bool | None,
) -> tuple[pd.DataFrame | None, pd.DataFrame | None]:
    """The (from, to) (doc_id, key) rows of a scan that fits the driver
    tier, else (from rows or None, None): the gate of ``_driver_pairs``.

    Each side is collected at most once under ``matchers.collect_bounded``,
    whose row limit is also the size gate: the from-side up to the pair
    bound, the to-side up to the bound divided by the from-side's size (a
    self-match: its one side up to the bound's square root). No count
    runs. A from-side collected whole stands in for the size-adaptive
    switch's count of it, so a size-adaptive scan over the bound runs one
    job more than the Spark tier alone."""
    from ..matchers import (
        AUTO_BLOCKING_MIN_DOCS,
        EDIT_DRIVER_MAX_PAIRS,
        collect_bounded,
    )
    from ..operators.dense_cosine import BROADCAST_MAX_BYTES

    # the float64 score matrix is what the tier holds on the driver
    max_pairs = min(EDIT_DRIVER_MAX_PAIRS, BROADCAST_MAX_BYTES // 8)
    # the tier stands in for the crossJoin only: inputs the size-adaptive
    # switch would block stay on the blocked tier
    max_docs = AUTO_BLOCKING_MIN_DOCS if use_blocking is None else max_pairs
    f_sel = from_df.select("doc_id", "key")
    if to_df is None:
        f_pdf = collect_bounded(f_sel, min(math.isqrt(max_pairs), max_docs))
        return f_pdf, f_pdf
    f_pdf = collect_bounded(f_sel, min(max_pairs, max_docs))
    if f_pdf is None:
        return None, None
    return f_pdf, collect_bounded(
        to_df.select("doc_id", "key"),
        min(max_pairs // max(len(f_pdf), 1), max_docs - len(f_pdf)),
    )


def _driver_pairs(
    from_df: DataFrame, to_df: DataFrame | None, f_pdf: pd.DataFrame,
    t_pdf: pd.DataFrame, scorer: str, scale: float, top_n: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The driver tier of ``_scored_pairs`` over the sides' collected rows
    (``_collect_sides``). Every pair is scored with the UDF's own kernel
    and the UDF's null-key rule, and zero scores are kept: the Spark tier
    ranks every pair, so a row with fewer than n positive scores still
    fills its ranks (``top_n_matches`` reports the sub-0.001 ones as NULL
    matches)."""
    from ..matchers import local_top_n_pairs
    from .kernels import PAIR_KERNELS

    self_match = to_df is None
    f_sel = from_df.select("doc_id", "key")
    t_sel = f_sel if self_match else to_df.select("doc_id", "key")
    fn = PAIR_KERNELS[scorer]
    f_keys = f_pdf["key"].fillna("").tolist()
    t_keys = t_pdf["key"].fillna("").tolist()
    sim = np.array(
        [fn(x, y) for x in f_keys for y in t_keys], dtype=np.float64
    ).reshape(len(f_keys), len(t_keys)) / scale
    f_ids = f_pdf["doc_id"].to_numpy()
    t_ids = t_pdf["doc_id"].to_numpy()
    if self_match:
        sim[f_ids[:, None] == t_ids[None, :]] = -np.inf
    spark = from_df.sparkSession
    pairs = local_top_n_pairs(
        spark, sim, top_n, f_ids, t_ids,
        f_sel.schema["doc_id"].dataType, t_sel.schema["doc_id"].dataType,
    )
    from_local = spark.createDataFrame(f_pdf, f_sel.schema)
    to_local = (
        from_local if self_match else spark.createDataFrame(t_pdf, t_sel.schema)
    )
    return pairs, from_local, to_local


class RapidFuzzMatcher(BaseSparkMatcher):
    """WRatio (default) extractOne-equivalent (reference _rapidfuzz.py)."""

    type = "EditDistance"

    def __init__(self, score_cutoff: float = 0.0, scorer: str = "WRatio",
                 top_n: int = 1, model_id: str | None = None,
                 use_blocking: bool | None = None,
                 blocking_conf: dict | None = None):
        super().__init__(model_id)
        self.score_cutoff = score_cutoff
        self.scorer = validate_kernel(scorer)
        self.top_n = top_n
        self.use_blocking = use_blocking
        self.blocking_conf = blocking_conf

    def match_df(self, from_df: DataFrame, to_df: DataFrame | None = None,
                 re_train: bool = True) -> DataFrame:
        # unit-scale kernels (monge_elkan) are already on [0,1] — the /100
        # percent normalization would squash them below any score_cutoff
        scale = 1.0 if self.scorer in UNIT_SCALE_KERNELS else 100.0
        scored, from_eff, to_eff = _scored_pairs(
            from_df, to_df, self.scorer, scale, self.top_n,
            self.use_blocking, self.blocking_conf,
        )
        matches = top_n_matches(
            scored, from_eff, self.top_n, min_similarity=self.score_cutoff
        )
        return attach_to_keys(matches, to_eff)


class EditDistanceMatcher(BaseSparkMatcher):
    """Argmax scan with pluggable scorer + optional min-max normalization
    (reference _distance.py; A2 normalization over the best-match column)."""

    type = "EditDistance"

    def __init__(self, scorer: str = "ratio", normalize: bool = True,
                 model_id: str | None = None,
                 use_blocking: bool | None = None,
                 blocking_conf: dict | None = None):
        super().__init__(model_id)
        self.scorer = validate_kernel(scorer)
        self.normalize = normalize
        self.use_blocking = use_blocking
        self.blocking_conf = blocking_conf

    def match_df(self, from_df: DataFrame, to_df: DataFrame | None = None,
                 re_train: bool = True) -> DataFrame:
        scored, from_eff, to_eff = _scored_pairs(
            from_df, to_df, self.scorer, 1.0, 1,
            self.use_blocking, self.blocking_conf,
        )
        # argmax (no cutoff) — raw scorer scale kept, like the reference
        w = Window.partitionBy("from_id").orderBy(F.desc("sim"), F.asc("to_id"))
        best = (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") == 1)
        )
        if self.normalize:
            # global min-max over the best-match column (reference
            # _distance.py:83-86); single-row agg broadcast back
            stats = best.agg(
                F.min("sim").alias("s_min"), F.max("sim").alias("s_max")
            )
            best = best.crossJoin(F.broadcast(stats)).select(
                "from_id",
                "to_id",
                "rank",
                F.when(
                    F.col("s_max") != F.col("s_min"),
                    (F.col("sim") - F.col("s_min"))
                    / (F.col("s_max") - F.col("s_min")),
                ).alias("sim"),
            )
        # no cutoff and no sub-epsilon nulling in the argmax path (the
        # reference keeps To even at similarity 0 after normalization), so
        # assemble output directly instead of via top_n_matches
        base = from_eff.select(
            F.col("doc_id").alias("from_id"), F.col("key").alias("from_key")
        )
        matches = base.join(
            best.select("from_id", "to_id", F.round("sim", 3).alias("similarity")),
            "from_id",
            "left",
        ).select(
            "from_id",
            "from_key",
            "to_id",
            F.lit(1).alias("rank"),
            F.coalesce("similarity", F.lit(0.0)).alias("similarity"),
        )
        return attach_to_keys(matches, to_eff)
