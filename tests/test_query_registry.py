"""The external correctness harness checks only the first 50 entries of
``all_queries()``; queries whose code paths changed recently must sit in
that window."""

from polyfuzz_spark.queries import all_queries

RECENTLY_CHANGED = (
    "tfidf_match_top1",
    "tfidf_transform_top1",
    "pr_curve_tfidf",
    "cluster_assignments",
)


def test_recently_changed_queries_in_first_50():
    window = list(all_queries())[:50]
    missing = [q for q in RECENTLY_CHANGED if q not in window]
    assert not missing, missing
