"""Structured Streaming surface: incremental matching of a document stream
against a fitted TF-IDF index (the reference's ``fit``/``transform`` split,
``/root/reference/polyfuzz/polyfuzz.py:209-242`` + ``_tfidf.py:108-117``,
re-expressed as a zero-shuffle streaming stage).

The reference has no streaming semantics (SURVEY.md §2.9); this is a
deliberate engine extension: at ingest scale new files arrive continuously
and must be matched against the already-resolved corpus without refitting.

Design: the fitted state (the map-side vocabulary table, IDF vector,
L2-normalized corpus matrix) is broadcast once, on an index's first
serving call; each incoming Arrow batch is scored with one BLAS matmul
entirely inside ``mapInPandas``. No shuffle, no stateful operator, no
watermark needed — the stage is a pure per-batch map, so the SAME
function scores a batch DataFrame and a streaming DataFrame (Spark's
unified batch/streaming contract), and stream output == batch output
row-for-row (tested). A small batch DataFrame (at most
``matchers.SERVE_DRIVER_MAX_DOCS`` docs, and within the driver's memory
cap) skips the Python worker round trip: it is collected once and the
same function scores it on the driver (``_serve``).

Serving keeps no kernel of its own. Queries vectorize through the map-side
kernel (``mapside.vectorize_keys``, the one behind every packed TF-IDF
vector: clean, shingle, drop out-of-vocabulary terms BEFORE the norm as
sklearn and the reference's ``re_train=False`` path do), and scores go
through the engine's score rule and the dense kernels' top-k ranker
(``functions.milli.to_milli`` / ``dense_cosine.topk_milli``).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import matchers
from ..functions.milli import threshold_milli, to_milli
from ..operators import dense_cosine
from ..operators.dense_cosine import fits_broadcast, scatter_rows, topk_milli
from ..operators.mapside import vectorize_keys, vocab_table
from ..operators.tfidf import TfidfConfig, TfidfModel

OUT_SCHEMA = "from_id long, to_id long, sim_milli long, rnk int"


@dataclass
class TfidfIndex:
    """Driver-side fitted state, broadcast to the serving kernels.

    ``vocab`` ({term: (tid, idf)}) and ``vpack`` are the map-side
    vectorizer's vocabulary table (``mapside.vocab_table``); ``vpack``
    None routes ``vectorize_keys`` to its per-doc fallback. ``to_mat``
    rows sit on the same sorted-term tids.

    A served index is read-only: its first serving call broadcasts it
    once (``_served``) and every later call on the same object reuses
    that broadcast, so changing a field in place would not reach the
    executors. Derive a new index with ``dataclasses.replace`` instead;
    the copy gets its own broadcast."""

    vocab: dict
    idf: np.ndarray          # (dim,)
    to_ids: np.ndarray       # (n_to,)
    to_mat: np.ndarray       # (n_to, dim) L2-normalized tf-idf rows
    config: TfidfConfig
    vpack: tuple | None = None
    # (SparkContext, Broadcast) of the first serving call; not pickled
    _bc: tuple | None = field(default=None, init=False, repr=False,
                              compare=False)

    def __getstate__(self):
        state = self.__dict__.copy()
        state.pop("_bc", None)
        return state


def _served(index: TfidfIndex, sc):
    """The one broadcast of ``index`` on ``sc``, made on first use. One
    per call would leave a copy of the index in ``spark.local.dir`` for
    every call (broadcasts are never destroyed here)."""
    if index._bc is None or index._bc[0] is not sc:
        index._bc = (sc, sc.broadcast(index))
    return index._bc[1]


def _vectorize_rows(keys: list, ix: TfidfIndex) -> tuple[np.ndarray, np.ndarray]:
    """(kept row positions, (k, dim) L2-normalized query matrix) for one
    Arrow batch: the map-side kernel's packed vectors scattered into dense
    rows. Keys with no in-vocabulary gram are not kept."""
    kept, ts, ws = vectorize_keys(keys, ix.vocab, ix.vpack, ix.config)
    return np.asarray(kept, dtype=np.int64), scatter_rows(ts, ws, len(ix.idf))


def build_index(model: TfidfModel, to_vec: DataFrame,
                id_col: str = "doc_id") -> TfidfIndex:
    """Materialize fitted state from the relational model: the IDF dimension
    table + the vectorized to-side (operators/tfidf outputs). The to-side
    must be broadcast-sized — same precondition as any broadcast join,
    enforced via the shared ``fits_broadcast`` budget (gate BEFORE the
    collects; an over-budget serving corpus must take the blocked matcher
    path, not OOM the driver)."""
    dim = model.idf.count()
    n_to = to_vec.select(id_col).distinct().count()
    if not fits_broadcast(n_to, dim):
        raise ValueError(
            f"to-side ({n_to} docs x {dim} terms) exceeds the broadcast "
            "budget for a streaming serving index; match against the "
            "corpus with the blocked path (operators.adaptive."
            "tfidf_transform_topk) instead"
        )
    vocab, vpack = vocab_table(model)
    idf = np.array([idf for _, idf in vocab.values()])
    rows = to_vec.select(id_col, "term", "weight").collect()
    to_ids, row_of = np.unique(
        np.array([r[id_col] for r in rows], dtype=np.int64),
        return_inverse=True,
    )
    to_mat = np.zeros((len(to_ids), len(idf)))
    to_mat[
        row_of, np.array([vocab[r["term"]][0] for r in rows], dtype=np.int64)
    ] = [r["weight"] for r in rows]
    return TfidfIndex(vocab, idf, to_ids, to_mat, model.config, vpack)


def _serve(docs: DataFrame, index: TfidfIndex, id_col: str, key_col: str,
           per_batch, schema: str) -> DataFrame:
    """``per_batch(ix, pdf) -> pdf`` over the (id, key) rows of ``docs``.

    A batch DataFrame of at most ``matchers.SERVE_DRIVER_MAX_DOCS`` rows,
    whose dense query, score and milli rows against ``index`` fit
    ``dense_cosine.BROADCAST_MAX_BYTES``, is collected once
    (``matchers.collect_bounded``) and scored on the driver, its result
    returned as a local relation: no Python worker round trip. Anything
    else, streaming DataFrames included, runs the same function per Arrow
    batch inside ``mapInPandas`` against the index's one broadcast, made
    on its first serving call either way."""
    bc = _served(index, docs.sparkSession.sparkContext)
    docs = docs.select(
        F.col(id_col).alias(id_col), F.col(key_col).alias(key_col)
    )
    row_bytes = 8 * max(len(index.idf) + 2 * len(index.to_ids), 1)
    max_rows = min(matchers.SERVE_DRIVER_MAX_DOCS,
                   dense_cosine.BROADCAST_MAX_BYTES // row_bytes)
    if not docs.isStreaming and max_rows > 0:
        pdf = matchers.collect_bounded(docs, max_rows)
        if pdf is not None:
            return docs.sparkSession.createDataFrame(
                per_batch(index, pdf), schema
            )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ix: TfidfIndex = bc.value
        for pdf in batches:
            yield per_batch(ix, pdf)

    return docs.mapInPandas(gen, schema=schema)


def incremental_match(
    docs: DataFrame,
    index: TfidfIndex,
    top_n: int = 1,
    min_similarity: float = 0.0,
    key_col: str = "key",
    id_col: str = "doc_id",
) -> DataFrame:
    """(from_id, to_id, sim_milli, rnk) for each incoming document vs the
    fitted corpus. ``docs`` may be a batch OR streaming DataFrame; both
    score each batch of rows with the same function (``_serve``)."""
    min_milli = threshold_milli(min_similarity)

    def match(ix: TfidfIndex, pdf: pd.DataFrame) -> pd.DataFrame:
        pos, mat = _vectorize_rows(list(pdf[key_col]), ix)
        # a zero-row index gives a (k, 0) matrix, hence no rows
        milli = to_milli(mat @ ix.to_mat.T)
        q, c, rnk = topk_milli(milli, ix.to_ids, top_n, min_milli)
        return pd.DataFrame(
            {"from_id": pdf[id_col].to_numpy()[pos][q],
             "to_id": ix.to_ids[c], "sim_milli": milli[q, c],
             "rnk": rnk}
        )

    return _serve(docs, index, id_col, key_col, match, OUT_SCHEMA)


def stream_match_parquet(
    spark,
    input_dir: str,
    schema: str,
    index: TfidfIndex,
    output_dir: str,
    checkpoint_dir: str,
    top_n: int = 1,
    min_similarity: float = 0.0,
    key_col: str = "key",
):
    """File-source streaming deployment: watch ``input_dir`` for new parquet
    files, match each micro-batch against the fitted index, append results
    to ``output_dir`` exactly-once via the checkpoint. Returns the query
    (call ``.awaitTermination()``; ``availableNow`` drains then stops)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    matched = incremental_match(
        stream, index, top_n, min_similarity, key_col=key_col
    )
    return (
        matched.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


ADMIT_SCHEMA = "doc_id long, key string, best_sim_milli long, admitted boolean"


def admission_filter(
    docs: DataFrame,
    index: TfidfIndex,
    threshold: float = 0.8,
    key_col: str = "key",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup admission screening at ingest: one verdict row PER incoming
    document — ``admitted`` is False when its best TF-IDF cosine against
    the fitted corpus reaches ``threshold`` (the training-data "don't
    re-admit what the resolved corpus already contains" gate).

    Stateless like ``incremental_match`` (per-row verdicts need no
    cross-row state, so the SAME function scores batch and streaming
    DataFrames with no watermark); documents that vectorize to nothing
    (no in-vocabulary n-grams) score 0 and are admitted."""
    thr_milli = threshold_milli(threshold)

    def admit(ix: TfidfIndex, pdf: pd.DataFrame) -> pd.DataFrame:
        keys = list(pdf[key_col])
        pos, mat = _vectorize_rows(keys, ix)
        best = np.zeros(len(keys), dtype=np.int64)
        # initial=0: a zero-row index scores every doc 0 instead of
        # raising on a max over an empty axis; cosines of tf-idf
        # vectors are never negative, so it changes no score
        best[pos] = to_milli(mat @ ix.to_mat.T).max(axis=1, initial=0)
        return pd.DataFrame(
            {
                "doc_id": pdf[id_col].to_numpy(),
                "key": keys,
                "best_sim_milli": best,
                "admitted": best < thr_milli,
            }
        )

    return _serve(docs, index, id_col, key_col, admit, ADMIT_SCHEMA)
