"""The blocked TFIDFMatcher branch (MinHash candidates scored over packed
map-side vectors) must give the same similarity as the unblocked exact
term join on every (from, to) pair both emit — two-list and self-match."""

import pytest

import polyfuzz_spark.matchers as M
from polyfuzz_spark.api import lists_to_df

NAMES = [
    "apple", "apples", "appl", "recal", "house", "similarity", "mouse",
    "acme corporation", "acme corp", "acme incorporated", "globex corp",
    "globex corporation", "initech llc", "initech", "umbrella co",
]
TARGETS = [
    "apple", "apples", "mouse", "acme corp", "globex corporation",
    "initech", "umbrella company",
]


def _match(spark, two_list: bool, **kw):
    matcher = M.TFIDFMatcher(min_similarity=0.0, top_n=len(NAMES), **kw)
    to_df = lists_to_df(spark, TARGETS) if two_list else None
    out = matcher.match_df(lists_to_df(spark, NAMES), to_df).toPandas()
    return out[out["to_id"].notna()].set_index(["from_id", "to_id"])


@pytest.mark.parametrize("two_list", [True, False], ids=["two_list", "self"])
def test_blocked_tfidf_matcher_scores_equal_term_join(
    spark, monkeypatch, two_list
):
    exact = _match(spark, two_list, use_blocking=False)

    scored = []
    real = M.score_candidates_packed

    def spy(*a, **kw):
        scored.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(M, "score_candidates_packed", spy)
    monkeypatch.setattr(M, "AUTO_BLOCKING_MIN_DOCS", 0)
    blocked = _match(spark, two_list)
    assert scored, "the blocked branch did not run"

    both = exact.join(blocked, how="inner", rsuffix="_blocked")
    assert len(both) >= 10
    differ = both["similarity"] != both["similarity_blocked"]
    assert not differ.any(), both[differ]
    if not two_list:
        assert not any(f == t for f, t in both.index)
