"""Char n-gram TF-IDF fit + vectorize (operator A1).

Reference semantics: ``/root/reference/polyfuzz/models/_tfidf.py:102-118``
— sklearn ``TfidfVectorizer(min_df=1, analyzer=char_ngrams)`` fit on the
multiset ``to_list + from_list``:

* N = number of fit documents (duplicates count),
* df(t) = number of fit documents containing t,
* idf(t) = ln((1+N)/(1+df)) + 1        (sklearn smooth_idf),
* vector = tf(t, doc) * idf(t), L2-normalized per doc,
* transform drops out-of-vocabulary terms **before** normalization.

All stages are DataFrame-native (explode → groupBy → window); the only
action is ``fit_tfidf``'s scalar ``count()`` of the fit corpus (N). The
facade's small fits skip this module: ``TFIDFMatcher``'s driver tier
counts document frequency with the map-side gram kernel and evaluates
the same IDF expression. At cluster scale the
(doc_id, term) explode shuffles on term for the df-aggregation — a classic
map-side-combinable count, so partial aggregation keeps the shuffle small
(|vocab| per mapper, not |rows|).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.ngrams import char_ngrams
from ..functions.normalize import clean_string
from ..partitioning import ensure_min_partitions


@dataclass
class TfidfConfig:
    n_gram_range: tuple[int, int] = (3, 3)
    clean_string: bool = True
    remove_space_ngrams: bool = True


@dataclass
class TfidfModel:
    """Fitted state: the IDF dimension table + corpus size.

    ``idf`` is a small-by-construction dimension (|vocab| ≤ alphabet^n; for
    3-grams over [a-z0-9 ] that is ≤ 50k rows) — always broadcastable.
    Persisted via ``save``/``load`` (parquet + JSON manifest, operator S4/S5).
    """

    idf: DataFrame  # (term: string, idf: double)
    n_docs: int
    config: TfidfConfig


def save_model(model: TfidfModel, path: str) -> None:
    """S4 — persist fitted state as parquet + JSON manifest (the engine's
    replacement for the reference's joblib pickle, polyfuzz.py:429-441):
    portable, inspectable, and readable from any Spark cluster."""
    import json
    from pathlib import Path

    p = Path(path)
    p.mkdir(parents=True, exist_ok=True)
    model.idf.write.mode("overwrite").parquet(str(p / "idf"))
    (p / "manifest.json").write_text(
        json.dumps(
            {
                "n_docs": model.n_docs,
                "n_gram_range": list(model.config.n_gram_range),
                "clean_string": model.config.clean_string,
                "remove_space_ngrams": model.config.remove_space_ngrams,
                "format_version": 1,
            }
        )
    )


def load_model(spark, path: str) -> TfidfModel:
    """S5 — restore a fitted model (reference polyfuzz.py:443-457)."""
    import json
    from pathlib import Path

    m = json.loads((Path(path) / "manifest.json").read_text())
    cfg = TfidfConfig(
        n_gram_range=tuple(m["n_gram_range"]),
        clean_string=m["clean_string"],
        remove_space_ngrams=m["remove_space_ngrams"],
    )
    idf = spark.read.parquet(str(Path(path) / "idf"))
    return TfidfModel(idf=idf, n_docs=m["n_docs"], config=cfg)


def doc_terms(docs: DataFrame, key_col: str, cfg: TfidfConfig,
              id_col: str = "doc_id") -> DataFrame:
    """(id, term, tf) — raw term counts per document.

    The cleaned key is materialized in its OWN projection before shingling:
    the n-gram lambda references the string once per element, and Catalyst
    does not CSE subexpressions into higher-order-function lambdas — feeding
    ``clean_string(key)`` directly would re-run both regexes per n-gram,
    turning each row O(len²) (measured 64× slower on ~800-char docs)."""
    key = clean_string(key_col) if cfg.clean_string else F.col(key_col)
    # gram explode amplifies rows ~len-fold before any shuffle: widen a
    # narrow scan first (wide real-scale inputs pass through untouched)
    cleaned = ensure_min_partitions(docs).select(
        F.col(id_col).alias("doc_id"), key.alias("_k")
    )
    grams = char_ngrams(
        F.col("_k"), cfg.n_gram_range[0], cfg.n_gram_range[1],
        cfg.remove_space_ngrams,
    )
    return (
        cleaned.select("doc_id", F.explode(grams).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def fit_tfidf(fit_docs: DataFrame, key_col: str = "key",
              cfg: TfidfConfig | None = None,
              id_col: str = "doc_id") -> TfidfModel:
    """Fit IDF over the fit corpus (a multiset — pass to+from unioned with
    unique doc ids; duplicate strings legitimately raise N and df, matching
    sklearn's fit on ``to_list + from_list``)."""
    cfg = cfg or TfidfConfig()
    n_docs = fit_docs.count()
    tf = doc_terms(fit_docs, key_col, cfg, id_col)
    idf = tf.groupBy("term").agg(
        (F.log((F.lit(1.0) + F.lit(float(n_docs))) / (F.lit(1.0) + F.count(F.lit(1)))) + F.lit(1.0)).alias("idf")
    )
    return TfidfModel(idf=idf, n_docs=n_docs, config=cfg)


def _recover_df(model: TfidfModel):
    """Invert the smooth-IDF formula back to the INTEGER document
    frequency: idf = ln((1+N)/(1+df)) + 1 ⇒ 1+df = (1+N)/e^(idf−1).
    The float round trip lands within ~1e-14 relative of the true
    integer, so round-to-nearest recovers it exactly for any df < ~1e12
    (pinned by the merge==joint-fit parity test)."""
    n = float(model.n_docs)
    return model.idf.select(
        "term",
        (
            F.round((F.lit(1.0) + F.lit(n)) / F.exp(F.col("idf") - 1), 0)
            - F.lit(1.0)
        ).cast("bigint").alias("df"),
    )


def merge_tfidf_models(a: TfidfModel, b: TfidfModel) -> TfidfModel:
    """Incremental model evolution: merge two models fitted on DISJOINT
    corpora into the model a joint fit over the union would produce —
    bit-identical IDF values, because document frequencies and corpus
    sizes are both additive over disjoint document multisets and the
    recomputation uses the exact fit expression on the summed integers
    (the TF-IDF analog of ``functions/lm.merge_hashed_lms``; at catalog
    scale this re-fits the serving model per snapshot delta without
    re-reading old corpora).

    One full-outer equi-join of two ≤|vocab|-row dimension tables + a
    map-side projection; nothing corpus-scale.
    """
    if a.config != b.config:
        raise ValueError(
            "cannot merge models with different configs: "
            f"{a.config} vs {b.config}"
        )
    n_docs = a.n_docs + b.n_docs
    da = _recover_df(a).withColumnRenamed("df", "dfa")
    db = _recover_df(b).withColumnRenamed("df", "dfb")
    merged_df = da.join(db, "term", "full_outer").select(
        "term",
        (
            F.coalesce("dfa", F.lit(0)) + F.coalesce("dfb", F.lit(0))
        ).alias("df"),
    )
    # the exact fit expression over the summed integers (fit_tfidf above)
    idf = merged_df.select(
        "term",
        (
            F.log(
                (F.lit(1.0) + F.lit(float(n_docs)))
                / (F.lit(1.0) + F.col("df"))
            )
            + F.lit(1.0)
        ).alias("idf"),
    )
    return TfidfModel(idf=idf, n_docs=n_docs, config=a.config)


def vectorize(model: TfidfModel, docs: DataFrame, key_col: str = "key",
              id_col: str = "doc_id") -> DataFrame:
    """L2-normalized sparse TF-IDF vectors: (doc_id, term, weight).

    The idf join is broadcast (small dimension); OOV terms drop via the
    inner join, and the L2 norm is taken AFTER that drop — identical to
    sklearn's transform-then-normalize. The norm uses a window over doc_id
    (one shuffle) instead of a groupBy+join (two).
    """
    tf = doc_terms(docs, key_col, model.config, id_col)
    # no forced broadcast: a large-corpus vocabulary can reach millions of
    # terms, and building the broadcast table is driver-serial; AQE still
    # auto-broadcasts small IDF tables
    w = tf.join(model.idf, "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf")).alias("w")
    )
    norm = F.sqrt(F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("doc_id")))
    return w.select("doc_id", "term", (F.col("w") / norm).alias("weight"))
