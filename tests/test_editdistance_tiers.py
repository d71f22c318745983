"""The EditDistance facade has a driver tier (``matchers.facade_tier``)
for unblocked scans of at most ``matchers.EDIT_DRIVER_MAX_PAIRS`` pairs and
a Spark tier (crossJoin + pandas UDF) above it. The tiers must be
observationally identical: same rows column for column and the same
schema. Setting the bound to 0 forces the Spark tier on the same inputs.

The seeded corpora repeat to-strings (score ties that only the ``to_id``
tie-break orders) and hold strings that score 0 against most others, so
``top_n=3`` ranks zero-score pairs (reported as NULL matches)."""

import pandas as pd
import pytest

import polyfuzz_spark.matchers as M
import polyfuzz_spark.scorers.editdistance as ED
from polyfuzz_spark.api import PolyFuzzSpark, lists_to_df

from .test_minhash import _stages_run
from .test_tfidf_tiers import fuzz_corpus

DRIVER_BOUND = M.EDIT_DRIVER_MAX_PAIRS
SPARK_UDF = ED.pair_scorer_udf


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.assign(_f=pdf["from_id"].astype(str))
        .sort_values(["_f", "rank"]).drop(columns="_f")
        .reset_index(drop=True)
    )


def _match(spark, monkeypatch, tier, matcher, from_df, to_df):
    monkeypatch.setattr(
        M, "EDIT_DRIVER_MAX_PAIRS", DRIVER_BOUND if tier == "driver" else 0
    )
    spark_tier = []

    def spy(kernel):
        spark_tier.append(kernel)
        return SPARK_UDF(kernel)

    monkeypatch.setattr(ED, "pair_scorer_udf", spy)
    out = matcher.match_df(from_df, to_df)
    # built from Rows: Arrow would turn a struct id's fields into floats
    # in a batch that holds a NULL to_id
    pdf = _sorted(pd.DataFrame(out.collect(), columns=out.columns))
    assert bool(spark_tier) == (tier == "spark"), tier
    return out.schema, pdf


def _assert_tiers_agree(spark, monkeypatch, make, from_df, to_df):
    d_schema, d = _match(spark, monkeypatch, "driver", make(), from_df, to_df)
    s_schema, s = _match(spark, monkeypatch, "spark", make(), from_df, to_df)
    assert d_schema == s_schema
    pd.testing.assert_frame_equal(d, s, check_exact=True)
    return d


MATCHERS = {
    "wratio": lambda: ED.RapidFuzzMatcher(),
    "wratio_top3": lambda: ED.RapidFuzzMatcher(top_n=3),
    "cutoff": lambda: ED.RapidFuzzMatcher(score_cutoff=0.6, top_n=2),
    "monge_elkan": lambda: ED.RapidFuzzMatcher(scorer="monge_elkan", top_n=2),
    "normalized": lambda: ED.EditDistanceMatcher(),
    "raw_jw": lambda: ED.EditDistanceMatcher(
        scorer="jaro_winkler", normalize=False
    ),
}


@pytest.mark.parametrize("mode", ["two_list", "self"])
@pytest.mark.parametrize("name", sorted(MATCHERS))
def test_tiers_agree(spark, monkeypatch, name, mode):
    frm, to = fuzz_corpus([3])
    if mode == "self":
        frm, to = to, None
    from_df = lists_to_df(spark, frm)
    to_df = lists_to_df(spark, to) if to is not None else None
    pdf = _assert_tiers_agree(spark, monkeypatch, MATCHERS[name], from_df,
                              to_df)
    assert sorted(set(pdf["from_id"])) == list(range(len(frm)))
    if mode == "self":
        assert (pdf["from_id"] != pdf["to_id"]).all()
    if name == "wratio_top3":
        # zero-score pairs fill ranks as NULL matches on both tiers
        nulls = pdf[pdf["to_id"].isna()]
        assert (nulls["rank"] > 1).any() and (nulls["similarity"] == 0).all()


@pytest.mark.parametrize("id_kind", ["long", "string", "struct"])
def test_tiers_keep_the_id_type(spark, monkeypatch, id_kind):
    """Long ids (with a null key), string ids and 128-bit struct ids come
    out with their own Spark type, and the same rows, on both tiers."""
    from pyspark.sql import functions as F

    from polyfuzz_spark.functions.ids import content_id128

    frm, to = fuzz_corpus([5])
    frm, to = sorted(set(frm)), sorted(set(to))  # one id per string

    def ids(strings):
        if id_kind == "long":
            return lists_to_df(spark, strings + [None])
        df = spark.createDataFrame([(s,) for s in strings], "key string")
        if id_kind == "struct":
            return df.select(content_id128("key").alias("doc_id"), "key")
        return df.select(F.concat(F.lit("k:"), "key").alias("doc_id"), "key")

    for args in ((ids(frm), ids(to)), (ids(to), None)):
        pdf = _assert_tiers_agree(
            spark, monkeypatch, MATCHERS["wratio_top3"], *args
        )
        assert len(set(pdf["from_id"].astype(str))) == args[0].count()


def test_driver_tier_bound_falls_back_to_spark(spark, monkeypatch,
                                                from_list, to_list):
    """Scans over the pair bound take the Spark tier: 6 × 3 pairs > 10,
    while a 3-string self-match (3 × 3 ≤ 10) stays on the driver. The
    size-adaptive switch then counts only a side the gate did not collect
    whole: the 6 from-strings fit a bound of 10 and are not counted
    again, over a bound of 5 both sides are."""
    ran, counted = [], []
    monkeypatch.setattr(
        ED, "pair_scorer_udf", lambda k: ran.append(k) or SPARK_UDF(k)
    )
    m = ED.RapidFuzzMatcher()
    from_df = lists_to_df(spark, from_list)
    to_df = lists_to_df(spark, to_list)
    real_count = type(from_df).count
    monkeypatch.setattr(
        type(from_df), "count",
        lambda df: counted.append(1) or real_count(df),
    )
    for bound, counts in ((10, 1), (5, 2)):
        monkeypatch.setattr(M, "EDIT_DRIVER_MAX_PAIRS", bound)
        ran.clear(), counted.clear()
        big = m.match_df(from_df, to_df)
        assert ran and len(counted) == counts, bound
        assert len(big.collect()) == 6
    ran.clear()
    monkeypatch.setattr(M, "EDIT_DRIVER_MAX_PAIRS", 10)
    small = m.match_df(lists_to_df(spark, to_list), None).collect()
    assert not ran and len(small) == 3


# executed stages of EditDistance match + collect on the 6×3 fixture,
# measured on the driver tier: 6 since lists_to_df builds through Arrow
# (8 from Python row tuples; the Spark tier ran 10)
ED_MATCH_STAGES = 6


def test_match_stage_budget(spark, from_list, to_list):
    sc = spark.sparkContext
    group = "editdistance-match-stage-budget"
    sc.setJobGroup(group, "EditDistance match stage budget")
    try:
        out = PolyFuzzSpark("EditDistance", spark).match(
            from_list, to_list
        ).get_matches().toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    rows = {r.from_key: (r.to_key, r.similarity) for r in out.itertuples()}
    assert rows["appl"] == ("apples", 0.9)
    assert rows["house"] == ("mouse", 0.8)
    assert _stages_run(sc, group) <= ED_MATCH_STAGES
