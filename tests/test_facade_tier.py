"""The facade tier rule (``matchers.facade_tier``) that the TF-IDF and
EditDistance matchers share: one gate of at most one bounded collect per
side, and a size-adaptive switch that counts only the sides the gate did
not collect whole."""

import pandas as pd
import pytest

import polyfuzz_spark.matchers as M
import polyfuzz_spark.scorers.editdistance as ED
from polyfuzz_spark.api import lists_to_df


def _spy(monkeypatch, cls, name):
    """Calls of ``cls.name``, each recorded by its first argument."""
    seen = []
    real = getattr(cls, name)

    def spy(first, *a, **k):
        seen.append(first)
        return real(first, *a, **k)

    monkeypatch.setattr(cls, name, spy)
    return seen


def _rows(df) -> pd.DataFrame:
    return (
        df.toPandas().sort_values(["from_id", "rank"]).reset_index(drop=True)
    )


def test_tfidf_gate_does_not_recount_a_collected_from_side(
        spark, monkeypatch, from_list, to_list):
    """6 from-strings fit a bound of 8 docs and 6 + 3 do not: the match
    takes the Spark tier, whose size-adaptive switch counts the to-side
    only, and gives the driver tier's rows."""
    from_df = lists_to_df(spark, from_list)
    to_df = lists_to_df(spark, to_list)
    driver = _rows(M.TFIDFMatcher(min_similarity=0).match_df(from_df, to_df))
    monkeypatch.setattr(M, "DRIVER_MAX_DOCS", 8)
    counted = _spy(monkeypatch, type(from_df), "count")
    joined = []
    real_join = M.sparse_cosine_pairs
    monkeypatch.setattr(
        M, "sparse_cosine_pairs",
        lambda *a, **k: joined.append(1) or real_join(*a, **k),
    )
    out = M.TFIDFMatcher(min_similarity=0).match_df(from_df, to_df)
    assert joined
    assert not any(df is from_df for df in counted)
    assert sum(df is to_df for df in counted) == 1
    pd.testing.assert_frame_equal(_rows(out), driver)


@pytest.mark.parametrize("facade", ["tfidf", "editdistance"])
@pytest.mark.parametrize("mode", ["two_list", "self"])
def test_driver_tier_collects_each_side_once(spark, monkeypatch, from_list,
                                             to_list, facade, mode):
    """A driver-tier match runs one bounded collect per side (one for a
    self-match) and no count."""
    from_df = lists_to_df(spark, from_list)
    to_df = lists_to_df(spark, to_list) if mode == "two_list" else None
    collected = _spy(monkeypatch, M, "collect_bounded")
    counted = _spy(monkeypatch, type(from_df), "count")
    matcher = (M.TFIDFMatcher(min_similarity=0) if facade == "tfidf"
               else ED.RapidFuzzMatcher())
    out = matcher.match_df(from_df, to_df)
    assert len(collected) == (2 if to_df is not None else 1)
    assert not counted
    assert len(out.collect()) == len(from_list)
