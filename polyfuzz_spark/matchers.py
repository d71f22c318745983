"""Matcher strategy objects — the engine's analog of PolyFuzz models.

Each matcher consumes/produces DataFrames:

    from_df(doc_id: long|string, key: string)
    to_df  (doc_id, key) | None          (None → self-match, diagonal excluded)
    →  matches(from_id, from_key, to_id, to_key, rank, similarity)

Reference API surface: ``/root/reference/polyfuzz/models/_base.py:6-31``
(BaseMatcher contract), ``_tfidf.py:68-117`` (TFIDF), ``_rapidfuzz.py:85-113``
(RapidFuzz), ``_distance.py:77-102`` (EditDistance), ``_embeddings.py:94-145``
(embedding cosine). Self-match semantics per ``docs/releases.md:95-118``:
single list → self-matches excluded; two identical lists → self-matches kept.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .operators.cosine_join import score_candidates_packed, sparse_cosine_pairs
from .operators.topk import attach_to_keys, top_n_matches
from .operators.tfidf import TfidfConfig, TfidfModel, fit_tfidf, vectorize


class BaseSparkMatcher:
    """Contract: ``match_df(from_df, to_df) -> matches`` (K5 plug-in point,
    reference ``_base.py:6-31``). Subclass and override ``score_pairs`` (for
    pair-scorer kernels) or the whole ``match_df`` (for vector models)."""

    type: str = "Base"

    def __init__(self, model_id: str | None = None):
        self.model_id = model_id or self.type

    def match_df(self, from_df: DataFrame, to_df: DataFrame | None = None,
                 re_train: bool = True) -> DataFrame:
        raise NotImplementedError


def _tagged(df: DataFrame, tag: str) -> DataFrame:
    return df.select(
        F.concat(F.lit(tag), F.col("doc_id").cast("string")).alias("doc_id"),
        "key",
    )


# auto-blocking switch: above this many total docs the full term join's
# hot-key fan-out dominates and TFIDFMatcher routes through banded MinHash
# candidates instead (scores stay exact; candidate recall is the documented
# LSH tradeoff). Monkeypatchable in tests.
AUTO_BLOCKING_MIN_DOCS = 100_000

# driver-tier switch: a fit-and-match whose two sides together hold at
# most this many docs is scored on the driver (TFIDFMatcher._match_driver).
# Measured on 4 vCPUs (local[4], 4g driver, perfbench company names, top 3,
# warm, median of 3), driver vs Spark tier: 1.0 vs 2.6 s at 1k + 1k docs,
# 2.4 vs 4.6 s at 3k + 3k, 6.5 vs 9.1 s at 4.5k + 4.5k; no crossover
# below the memory cap, which binds first: the float64 score matrix plus
# both scattered sides is 410 MiB at 4k + 4k names (vocabulary 4.7k
# terms), 500 MiB at 4.5k + 4.5k and 1.8 GiB at 10k + 10k, against
# dense_cosine.BROADCAST_MAX_BYTES (512 MiB), which each call also checks
# against its own vocabulary. Monkeypatchable in tests (0 forces the
# Spark tiers).
DRIVER_MAX_DOCS = 8_000

# driver-tier switch of batch serving calls (streaming.incremental._serve):
# a batch DataFrame of at most this many docs is scored on the driver.
# Measured on 4 vCPUs (local[4], perfbench code documents in 4 parquet
# files against the perfbench admission index of 200 docs × 5.4k terms,
# admission_filter + collect, warm, median of 3), driver vs mapInPandas:
# 144 vs 260 ms at 50 docs, 165 vs 268 ms at 500, 242 vs 312 ms at 1k,
# 284 vs 289 ms at 1.5k, 327 vs 301 ms at 2k, 1,046 vs 587 ms at 8k: the
# driver vectorizes on one thread, mapInPandas on every core after a
# ~0.25 s fixed cost, so the crossover is near 1.5k docs (measured at
# this index size only; a larger index adds matmul work per doc on both
# tiers). The driver's dense query, score and milli rows are also capped
# at dense_cosine.BROADCAST_MAX_BYTES.
# Monkeypatchable in tests (0 forces mapInPandas).
SERVE_DRIVER_MAX_DOCS = 1_000

# driver-tier switch of the EditDistance facade (scorers.editdistance): an
# unblocked scan of at most this many pairs (n_from × n_to) is scored on
# the driver. Measured on 4 vCPUs (local[4], perfbench names, WRatio,
# match + collect, warm, median of 3), driver vs Spark tier with the
# from-side in 8 partitions: 0.31 vs 0.69 s at 60 × 60, 0.37 vs 0.56 s at
# 100 × 100, 0.52 vs 0.61 s at 140 × 140, 0.91 vs 0.67 s at 200 × 200,
# 2.0 vs 1.3 s at 300 × 300 and 19.6 vs 5.7 s at 1k × 1k (one run each):
# the crossover is near 25k pairs, where the driver's ~19 µs per WRatio
# pair meets the Spark tier's fixed cost plus that work on 4 cores. With
# single-partition parquet sides the Spark tier scores on one task and is
# no faster at any size (1.9 vs 2.1 s at 300 × 300, 19.5 vs 19.9 s at
# 1k × 1k). The float64 score matrix is also capped at
# dense_cosine.BROADCAST_MAX_BYTES. Monkeypatchable in tests (0 forces
# the Spark tier).
EDIT_DRIVER_MAX_PAIRS = 25_000


def collect_bounded(df: DataFrame, max_rows: int) -> pd.DataFrame | None:
    """``df`` as one Arrow collect when it holds at most ``max_rows`` rows,
    else None. The ``limit(max_rows + 1)`` that bounds the driver's memory
    is also the size gate: no separate count runs."""
    pdf = df.limit(max_rows + 1).toPandas()
    return pdf if len(pdf) <= max_rows else None


def local_top_n_pairs(spark, sim: np.ndarray, top_n: int,
                      from_ids: np.ndarray, to_ids: np.ndarray,
                      from_type, to_type) -> DataFrame:
    """The pairs of a driver-tier (from × to) score matrix that can reach
    their row's top n, as a ``(from_id, to_id, sim)`` local relation for
    ``top_n_matches``. ``sim`` is -inf where the pair is not a candidate;
    ``from_ids``/``to_ids`` label its rows and columns and keep their
    Spark types ``from_type``/``to_type``.

    ``top_n_matches`` ranks on sim rounded to 9 decimals, so every pair it
    can pick lies within 1e-9 of its row's n-th largest sim; the 2e-9
    margin keeps the ties its ``to_id`` tie-break decides, and the
    threshold it applies first drops only pairs below the ones kept."""
    keep = sim > -np.inf
    if 0 < top_n < sim.shape[1]:
        col = sim.shape[1] - top_n
        nth = np.partition(sim, col, axis=1)[:, col]
        keep &= sim >= nth[:, None] - 2e-9
    r, c = np.nonzero(keep)
    return spark.createDataFrame(
        pd.DataFrame({
            "from_id": from_ids[r], "to_id": to_ids[c], "sim": sim[r, c],
        }),
        StructType([
            StructField("from_id", from_type),
            StructField("to_id", to_type),
            StructField("sim", DoubleType()),
        ]),
    )


class TFIDFMatcher(BaseSparkMatcher):
    """Char n-gram TF-IDF cosine matcher (reference ``_tfidf.py``).

    Three tiers produce the scored pairs; ranking, the threshold, the
    3-decimal rounding and the sub-0.001 nulling are one operator for all
    of them (``top_n_matches``):

    * **driver** — a fit-and-match (``re_train=True``) that would take
      the term join, whose two sides together hold at most
      ``DRIVER_MAX_DOCS`` docs, and whose dense score matrix plus vectors
      fit ``dense_cosine.BROADCAST_MAX_BYTES``: one bounded Arrow collect
      per side, then the fit, the vectors and the cosines in numpy
      (``_match_driver``), identical rows to the term join.
    * **blocked** — ``use_blocking=True``, or ``None`` (default) above
      ``AUTO_BLOCKING_MIN_DOCS`` total docs: banded MinHash candidates,
      scored exactly over packed map-side vectors of the fitted model, so
      the facade never runs the quadratic-on-hot-terms term self-join at
      corpus scale.
    * **term join** — everything else (``fit_tfidf`` → ``vectorize`` →
      ``sparse_cosine_pairs``), including every ``re_train=False``
      transform.
    """

    type = "TF-IDF"

    def __init__(
        self,
        n_gram_range: tuple[int, int] = (3, 3),
        clean_string: bool = True,
        min_similarity: float = 0.75,
        top_n: int = 1,
        model_id: str | None = None,
        remove_space_ngrams: bool = True,
        use_blocking: bool | None = None,
        blocking_conf: dict | None = None,
    ):
        super().__init__(model_id)
        self.cfg = TfidfConfig(n_gram_range, clean_string, remove_space_ngrams)
        self.min_similarity = min_similarity
        self.top_n = top_n
        self.use_blocking = use_blocking
        self.blocking_conf = blocking_conf or {}
        self.model: TfidfModel | None = None
        self.to_vec: DataFrame | None = None
        self._to_df: DataFrame | None = None

    # -- fit/transform split (reference _tfidf.py:102-118, re_train flag) --
    def _fit(self, from_df: DataFrame, to_df: DataFrame | None) -> None:
        if to_df is not None:
            fit_docs = _tagged(to_df, "t:").unionByName(_tagged(from_df, "f:"))
        else:
            fit_docs = from_df
        self.model = fit_tfidf(fit_docs, "key", self.cfg)

    def match_df(self, from_df: DataFrame, to_df: DataFrame | None = None,
                 re_train: bool = True) -> DataFrame:
        exclude_self = to_df is None
        if re_train and self.use_blocking is not True:
            matches = self._match_driver(from_df, to_df)
            if matches is not None:
                return matches
        if re_train or self.model is None:
            self._fit(from_df, to_df)
            self._to_df = to_df if to_df is not None else from_df
            self.to_vec = vectorize(self.model, self._to_df, "key")
        to_df_eff = self._to_df
        use_blocking = self.use_blocking
        if use_blocking is None:  # size-adaptive
            n_total = from_df.count() + (
                0 if exclude_self else to_df_eff.count()
            )
            use_blocking = n_total > AUTO_BLOCKING_MIN_DOCS
        if use_blocking:
            from .operators.blocking import minhash_candidates
            from .operators.mapside import vectorize_packed_mapside

            cands = minhash_candidates(
                from_df, None if exclude_self else to_df_eff,
                cfg=self.cfg, **self.blocking_conf,
            )
            # exact cosine on the candidates over packed map-side vectors
            # of the same fitted model — the ER pipeline's scorer
            to_packed = vectorize_packed_mapside(self.model, to_df_eff, "key")
            from_packed = (
                to_packed if (exclude_self and re_train)
                else vectorize_packed_mapside(self.model, from_df, "key")
            )
            pairs = score_candidates_packed(cands, from_packed, to_packed)
            if exclude_self:
                pairs = pairs.where(F.col("from_id") != F.col("to_id"))
        else:
            from_vec = (
                self.to_vec if (exclude_self and re_train)
                else vectorize(self.model, from_df, "key")
            )
            pairs = sparse_cosine_pairs(
                from_vec, self.to_vec, exclude_self=exclude_self
            )
        matches = top_n_matches(pairs, from_df, self.top_n, self.min_similarity)
        return attach_to_keys(matches, to_df_eff)

    def _match_driver(self, from_df: DataFrame,
                      to_df: DataFrame | None) -> DataFrame | None:
        """The driver tier of a fit-and-match, or None when the inputs do
        not fit it (the caller then runs a Spark tier).

        Each side is collected once through Arrow under ``limit(bound +
        1)``, which is also the size gate. The fit, the vocabulary and the
        vectors are the map-side kernels' own (``doc_freq_batch``,
        ``vocab_from_idf``, ``vectorize_keys``); the IDF of each distinct
        document frequency is evaluated by the JVM's ``StrictMath.log``,
        the function behind Spark's ``log``, so it is bit-identical to
        ``fit_tfidf``. The cosines are one dense matmul; the ``sim > 0``
        pairs (diagonal excluded for a self-match) that can reach their
        row's top n go to the same ``top_n_matches`` + ``attach_to_keys``
        as the Spark tiers, over local relations of the collected sides."""
        from .operators.dense_cosine import BROADCAST_MAX_BYTES, scatter_rows
        from .operators.mapside import (
            FIT_SLICE_DOCS,
            VECTORIZER_SLICE_DOCS,
            doc_freq_batch,
            vectorize_keys,
            vocab_from_idf,
        )

        spark = from_df.sparkSession
        # the tier stands in for the term join only: inputs the
        # size-adaptive switch would block stay on the blocked tier
        budget = DRIVER_MAX_DOCS
        if self.use_blocking is None:
            budget = min(budget, AUTO_BLOCKING_MIN_DOCS)
        f_sel = from_df.select("doc_id", "key")
        t_sel = f_sel if to_df is None else to_df.select("doc_id", "key")
        f_pdf = collect_bounded(f_sel, budget)
        if f_pdf is None:
            return None
        t_pdf = f_pdf if to_df is None else collect_bounded(
            t_sel, budget - len(f_pdf)
        )
        if t_pdf is None:
            return None
        f_schema, t_schema = f_sel.schema, t_sel.schema
        self_match = to_df is None
        f_keys = list(f_pdf["key"])
        t_keys = list(t_pdf["key"])
        fit_keys = f_keys if self_match else t_keys + f_keys
        dfs = doc_freq_batch(fit_keys, self.cfg, FIT_SLICE_DOCS)
        n_f, n_t, dim = len(f_keys), len(t_keys), len(dfs)
        if (n_f * n_t + (n_f + n_t) * dim) * 8 > BROADCAST_MAX_BYTES:
            return None
        n1 = 1.0 + float(len(fit_keys))
        log = spark.sparkContext._jvm.java.lang.StrictMath.log
        idf_of = {
            d: log(n1 / (1.0 + float(d))) + 1.0
            for d in set(dfs["pdf_"].tolist())
        }
        terms = list(dfs["term"])
        idfs = [idf_of[d] for d in dfs["pdf_"].tolist()]
        vocab, vpack = vocab_from_idf(terms, idfs, self.cfg)

        def vectors(keys):
            kept, ts, ws = vectorize_keys(
                keys, vocab, vpack, self.cfg, VECTORIZER_SLICE_DOCS
            )
            return np.asarray(kept, dtype=np.int64), scatter_rows(ts, ws, dim)

        f_pos, f_mat = vectors(f_keys)
        t_pos, t_mat = (f_pos, f_mat) if self_match else vectors(t_keys)
        sim = f_mat @ t_mat.T
        if self_match:
            np.fill_diagonal(sim, 0.0)
        sim[sim <= 0] = -np.inf  # only pairs sharing a term are scored
        pairs = local_top_n_pairs(
            spark, sim, self.top_n,
            f_pdf["doc_id"].to_numpy()[f_pos],
            t_pdf["doc_id"].to_numpy()[t_pos],
            f_schema["doc_id"].dataType, t_schema["doc_id"].dataType,
        )
        from_local = spark.createDataFrame(f_pdf, f_schema)
        to_local = (
            from_local if self_match else spark.createDataFrame(t_pdf, t_schema)
        )
        # fitted state, as a Spark-tier fit leaves it: a later transform,
        # save or group reads the same model
        self.model = TfidfModel(
            idf=spark.createDataFrame(
                pd.DataFrame({
                    "term": pd.Series(terms, dtype="object"),
                    "idf": pd.Series(idfs, dtype="float64"),
                }),
                "term string, idf double",
            ),
            n_docs=len(fit_keys),
            config=self.cfg,
        )
        self._to_df = to_local
        self.to_vec = vectorize(self.model, to_local, "key")
        matches = top_n_matches(
            pairs, from_local, self.top_n, self.min_similarity
        )
        return attach_to_keys(matches, to_local)


class EmbeddingMatcher(BaseSparkMatcher):
    """Embedding-cosine matcher (reference ``_embeddings.py:94-145`` — L2
    normalize then cosine). Input DataFrames carry an ``embedding``
    array<float|double> column; any (doc_id, key, embedding) source plugs in
    (the reference's Flair/SBERT/... encode step is that plug point).

    ``encoder``: optional plug for inputs WITHOUT an embedding column — a
    callable ``DataFrame -> DataFrame`` that adds ``embedding`` (the
    engine's sanctioned equivalent of the reference's embedding-model
    constructor arg, ``_embeddings.py:34-60``; typically a ``mapInPandas``
    over an Arrow-batched model). This is what makes
    ``group(model=EmbeddingMatcher(encoder=...))`` work end-to-end on bare
    strings: grouping re-matches (doc_id, key) rows, which the encoder
    embeds on the fly. Encoders are Python callables and are NOT persisted
    by ``save()`` (the manifest records their presence; re-attach after
    ``load`` to serve raw-string inputs again).

    Routed through ``dense_cosine.embedding_dense_topk``: corpus broadcast
    as one normalized matrix, queries streamed through a batch matmul — a
    top-k kernel, never a BroadcastNestedLoopJoin (the non-equi
    ``from_id != to_id`` self-join Spark would otherwise plan is a
    cartesian product). Over the broadcast budget the kernel itself
    degrades to the LSH-bucketed path (``lsh_conf`` tunes it).

    Similarity precision note: cosines are quantized by the score rule of
    ``functions.milli`` and reported as milli / 1000, which
    ``min_similarity`` then filters (``top_n_matches``), so a cosine up to
    0.0005 below the threshold can pass.
    """

    type = "Embeddings"

    def __init__(self, min_similarity: float = 0.75, top_n: int = 1,
                 model_id: str | None = None, lsh_conf: dict | None = None,
                 encoder=None):
        super().__init__(model_id)
        self.min_similarity = min_similarity
        self.top_n = top_n
        self.lsh_conf = lsh_conf
        self.encoder = encoder
        # fitted state: the embedded to-side of the last re_train=True
        # match (reference _embeddings.py:120-133 caches embeddings_to and
        # reuses it when re_train=False — the production fit/transform
        # split). Holding the DataFrame keeps the encode lineage; callers
        # that transform repeatedly get one encode of the corpus, not one
        # per query batch.
        self._to_emb: DataFrame | None = None

    def _with_embeddings(self, df: DataFrame) -> DataFrame:
        if "embedding" in df.columns:
            return df
        if self.encoder is None:
            raise ValueError(
                "EmbeddingMatcher input has no 'embedding' column; either "
                "supply (doc_id, key, embedding) rows or construct the "
                "matcher with encoder=<DataFrame -> DataFrame adding it>"
            )
        out = self.encoder(df)
        if "embedding" not in out.columns:
            raise ValueError(
                "the supplied encoder did not add an 'embedding' column"
            )
        return out

    def match_df(self, from_df: DataFrame, to_df: DataFrame | None = None,
                 re_train: bool = True) -> DataFrame:
        from .operators.dense_cosine import embedding_dense_topk

        use_fitted = (not re_train) and self._to_emb is not None
        # the diagonal is excluded only when the effective to-side IS the
        # from-side (true self-match); a re_train=False transform against
        # the fitted corpus is a two-list match even with to_df=None
        exclude_self = to_df is None and not use_fitted
        from_df = self._with_embeddings(from_df)
        if not use_fitted:
            to_eff = (
                self._with_embeddings(to_df) if to_df is not None else from_df
            )
            # localCheckpoint so the (possibly Python-encoded) to-side is
            # materialized once and every later transform reuses the
            # result, not the encode lineage
            self._to_emb = to_eff.localCheckpoint(eager=True)
        to_eff = self._to_emb
        topk = embedding_dense_topk(
            from_df, to_eff, k=self.top_n, id_col="doc_id",
            vec_col="embedding", exclude_self=exclude_self,
            lsh_conf=self.lsh_conf,
        )
        pairs = topk.select(
            F.col("query_id").alias("from_id"),
            F.col("neighbor_id").alias("to_id"),
            (F.col("cos_milli") / 1000.0).alias("sim"),
        )
        matches = top_n_matches(pairs, from_df, self.top_n, self.min_similarity)
        return attach_to_keys(matches, to_eff)
