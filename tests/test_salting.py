"""Hot-term salting must be a pure join-key refinement: identical result
rows with and without salting (the north-rule skew handling in
``cosine_join.sparse_cosine_pairs``)."""

import pandas as pd

from polyfuzz_spark.api import lists_to_df
from polyfuzz_spark.operators.cosine_join import sparse_cosine_pairs
from polyfuzz_spark.operators.tfidf import fit_tfidf, vectorize


def _canon(df) -> pd.DataFrame:
    pdf = df.toPandas()
    # salting changes float summation order; compare far below the engine's
    # milli quantization but above double noise
    pdf["sim"] = pdf["sim"].round(9)
    return (
        pdf.sort_values(["from_id", "to_id"]).reset_index(drop=True)
    )


def test_salted_equals_unsalted_on_hot_term(spark):
    # every doc shares the hot trigrams 'the'/'hea'/'eaa' (df = 24 docs),
    # so salt_df_above=3 splits the from-side into 8 salt groups
    docs = lists_to_df(spark, [f"theaa{i:02d}x" for i in range(24)])
    model = fit_tfidf(docs, "key")
    vec = vectorize(model, docs, "key")
    unsalted = sparse_cosine_pairs(
        vec, vec, exclude_self=True, salt_df_above=None
    )
    salted = sparse_cosine_pairs(vec, vec, exclude_self=True, salt_df_above=3)
    a, b = _canon(unsalted), _canon(salted)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


# ------------------------------------------------------------- hot BANDS
# (VERDICT r02 item 3: recall-preserving alternative to _cap_buckets'
# drop-members heuristic)


def _one_giant_bucket(spark, n):
    """n docs all sharing one (band, band_key) bucket plus a disjoint cold
    bucket of 3 docs."""
    rows = [(i, 0, 42) for i in range(n)]
    rows += [(1000 + i, 0, 99) for i in range(3)]
    return spark.createDataFrame(
        rows, "doc_id long, band int, band_key long"
    )


def test_hot_band_salting_recall_one(spark):
    """With hot_bucket='salt', EVERY pair of the 50-member bucket (cap 5 →
    s=10 salt groups) must survive, plus the cold bucket's pairs — pair
    recall 1.0 where the drop cap loses the whole hot bucket."""
    from polyfuzz_spark.operators.mapside import candidates_from_bands

    n = 50
    bands_df = _one_giant_bucket(spark, n)
    got = candidates_from_bands(
        bands_df, max_bucket_size=5, hot_bucket="salt", max_salt=10,
        emit_both=False,
    ).toPandas()
    want = {(i, j) for i in range(n) for j in range(i + 1, n)}
    want |= {(1000 + i, 1000 + j) for i in range(3) for j in range(i + 1, 3)}
    assert set(map(tuple, got[["from_id", "to_id"]].values)) == want

    dropped = candidates_from_bands(
        bands_df, max_bucket_size=5, hot_bucket="drop", emit_both=False,
    ).toPandas()
    assert len(dropped) == 3  # only the cold bucket survives the drop cap


def test_hot_band_salting_bounded_fanout(spark):
    """The salted grid must spread the hot bucket across s² cells with
    per-cell membership ~n/s on each side — per-task join fan-out is
    bounded by ~cap², never the full n²."""
    from polyfuzz_spark.operators.mapside import _salted_sides

    n, cap, max_salt = 50, 5, 10
    bands_df = _one_giant_bucket(spark, n).localCheckpoint(eager=True)
    f, t = _salted_sides(bands_df, None, True, cap, max_salt)
    fp = f.toPandas()
    hot = fp[fp.band_key == 42]
    s = n // cap
    # every F row replicated s times, own-group coordinate fixed
    assert len(hot) == n * s
    per_cell = hot.groupby(["ci", "cj"]).size()
    assert per_cell.index.get_level_values("ci").nunique() == s
    # hash group assignment is uneven but bounded well below n
    assert per_cell.max() <= 4 * cap
    # cold bucket: s=1, single (0, 0) cell, no replication
    cold = fp[fp.band_key == 99]
    assert len(cold) == 3 and set(zip(cold.ci, cold.cj)) == {(0, 0)}


def test_hot_band_salting_respects_max_salt(spark):
    """Buckets needing more than max_salt groups are still dropped — the
    stop-band heuristic moves to cap×max_salt, it does not vanish."""
    from polyfuzz_spark.operators.mapside import candidates_from_bands

    bands_df = _one_giant_bucket(spark, 50)
    got = candidates_from_bands(
        bands_df, max_bucket_size=5, hot_bucket="salt", max_salt=2,
        emit_both=False,
    ).toPandas()
    # 50 > 5*2 → hot bucket dropped; cold bucket intact
    assert set(map(tuple, got[["from_id", "to_id"]].values)) == {
        (1000, 1001), (1000, 1002), (1001, 1002)
    }


def test_hot_band_salting_two_list_mode(spark):
    """Two-list salting covers every cross pair of a shared hot bucket."""
    from polyfuzz_spark.operators.mapside import candidates_from_bands

    f = spark.createDataFrame(
        [(i, 0, 42) for i in range(20)], "doc_id long, band int, band_key long"
    )
    t = spark.createDataFrame(
        [(100 + i, 0, 42) for i in range(17)],
        "doc_id long, band int, band_key long",
    )
    got = candidates_from_bands(
        f, t, max_bucket_size=4, hot_bucket="salt", max_salt=8
    ).toPandas()
    want = {(i, 100 + j) for i in range(20) for j in range(17)}
    assert set(map(tuple, got[["from_id", "to_id"]].values)) == want


def test_minhash_candidates_salt_recovers_capped_bucket(spark):
    """End-to-end through ``minhash_candidates`` (map-side band keys): a
    corpus of one shared-content clone family larger than the cap loses
    all candidacy under 'drop' but keeps every pair under 'salt'."""
    from polyfuzz_spark.operators.blocking import minhash_candidates

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(12)],
        "doc_id long, key string",
    )
    dropped = minhash_candidates(docs, max_bucket_size=5).toPandas()
    assert len(dropped) == 0
    salted = minhash_candidates(
        docs, max_bucket_size=5, hot_bucket="salt"
    ).toPandas()
    # both orientations of all 12*11/2 pairs
    assert len(salted) == 12 * 11
