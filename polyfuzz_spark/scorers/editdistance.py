"""Edit-distance matchers (operators J5/J6, kernels K2/K3, agg A2).

Reference: ``/root/reference/polyfuzz/models/_rapidfuzz.py:85-113``
(extractOne scan: WRatio, score_cutoff×100, output÷100) and
``_distance.py:77-102`` (argmax scan with pluggable scorer + min-max
normalize, A2 at ``_distance.py:83-86``).

The reference parallelizes with joblib processes per from-string. Here
scoring has two tiers, and ranking is the same Spark operators for both
(``top_n_matches`` or the argmax window, then ``attach_to_keys``):

* **driver** — an unblocked scan of at most
  ``matchers.EDIT_DRIVER_MAX_PAIRS`` pairs (n_from × n_to): the facade
  tier rule's one bounded Arrow collect per side, every pair scored on
  the driver, and its driver tail (``matchers.driver_pairs``).
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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import matchers
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

    ``matchers.facade_tier`` picks the tier, as for TFIDFMatcher: the
    crossJoin is quadratic, so a size-adaptive scan over
    ``matchers.AUTO_BLOCKING_MIN_DOCS`` docs takes MinHash candidates (the
    reference's extractOne scans every to-string). The driver tier scores
    every pair with the UDF's kernel and null-key rule and keeps zero
    scores, which fill a row's ranks as NULL matches on both tiers."""
    from ..operators.dense_cosine import BROADCAST_MAX_BYTES

    # the float64 score matrix is what the driver tier holds
    tier, f_pdf, t_pdf = matchers.facade_tier(
        from_df, to_df, use_blocking,
        min(matchers.EDIT_DRIVER_MAX_PAIRS, BROADCAST_MAX_BYTES // 8),
    )
    if tier == "driver":
        from .kernels import PAIR_KERNELS

        fn = PAIR_KERNELS[scorer]
        f_keys = f_pdf["key"].fillna("").tolist()
        t_keys = t_pdf["key"].fillna("").tolist()
        sim = np.array(
            [fn(x, y) for x in f_keys for y in t_keys], dtype=np.float64
        ).reshape(len(f_keys), len(t_keys)) / scale
        return matchers.driver_pairs(from_df, to_df, f_pdf, t_pdf, sim, top_n)
    to_eff = to_df if to_df is not None else from_df
    f = from_df.select(
        F.col("doc_id").alias("from_id"), F.col("key").alias("f_key")
    )
    t = to_eff.select(F.col("doc_id").alias("to_id"), F.col("key").alias("t_key"))
    if tier == "blocked":
        from ..operators.blocking import minhash_candidates

        cand = minhash_candidates(from_df, to_df, **(blocking_conf or {}))
        pairs = cand.join(f, "from_id").join(t, "to_id")
    else:
        pairs = f.crossJoin(t)
    if to_df is None:
        pairs = pairs.where(F.col("from_id") != F.col("to_id"))
    raw = pair_scorer_udf(scorer)(F.col("f_key"), F.col("t_key"))
    return (
        pairs.select("from_id", "to_id", (raw / scale).alias("sim")),
        from_df,
        to_eff,
    )


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
