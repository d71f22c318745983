"""The benchmark (``perfbench/``) wraps and imports library names by
attribute. A simplification that deletes or renames one fails here, in
the tier-1 suite, instead of only in the benchmark's own smoke run."""

import polyfuzz_spark.matchers as matchers
from perfbench.trace import NullTracer
from perfbench.workloads import WORKLOADS


def test_every_workload_instruments_against_the_library(tmp_path):
    saved = matchers.sparse_cosine_pairs
    for name, cls in WORKLOADS.items():
        w = cls(None, tmp_path / name, 0, "smoke")
        # Patch.wrap raises AttributeError when a wrapped layer moved
        with w.instrument(NullTracer()):
            pass
    assert matchers.sparse_cosine_pairs is saved  # restored on exit


def test_benchmark_setup_names_exist():
    from polyfuzz_spark.operators.tfidf import fit_tfidf, vectorize
    from polyfuzz_spark.streaming.incremental import (
        admission_filter,
        build_index,
    )

    assert all(
        callable(f)
        for f in (fit_tfidf, vectorize, build_index, admission_filter)
    )


def test_serving_index_pickles_with_the_fields_the_benchmark_reads(spark):
    """``perfbench``'s admission set-up builds the index from
    ``fit_tfidf``/``vectorize``, pickles it for ``incremental.index_bytes``
    and reads ``len(index.to_ids)`` and ``len(index.idf)``."""
    import pickle

    from polyfuzz_spark.api import lists_to_df
    from polyfuzz_spark.operators.tfidf import fit_tfidf, vectorize
    from polyfuzz_spark.streaming.incremental import build_index

    docs = lists_to_df(spark, ["apple pie", "apples", "mouse house"])
    model = fit_tfidf(docs, "key")
    index = build_index(model, vectorize(model, docs, "key"))
    back = pickle.loads(pickle.dumps(index))
    assert len(back.to_ids) == 3
    assert len(back.idf) == model.idf.count() > 0
