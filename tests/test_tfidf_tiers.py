"""The facade TF-IDF match has a driver tier (``matchers.facade_tier``)
below ``matchers.DRIVER_MAX_DOCS`` and Spark tiers above it. The tiers
must be observationally identical: same rows column for column, same
schema, same groups and the same saved IDF, bit for bit. Setting the
bound to 0 forces the Spark tier on the same inputs.

The seeded corpora repeat to-strings (identical vectors, so cosine ties
that only the ``to_id`` tie-break orders) and hold gram-less strings; the
``clean_string=False`` config routes the vectorizer through its per-doc
fallback."""

import numpy as np
import pandas as pd
import pytest

import polyfuzz_spark.matchers as M
from polyfuzz_spark.api import PolyFuzzSpark, lists_to_df

WORDS = [
    "acme", "globex", "initech", "umbrella", "hooli", "stark", "wayne",
    "wonka", "tyrell", "cyberdyne", "soylent", "oscorp", "vandelay",
    "corp", "inc", "group", "holdings", "and", "co",
]
GRAMLESS = ["ab", "", "x", "!!"]
DRIVER_BOUND = M.DRIVER_MAX_DOCS
TERM_JOIN = M.sparse_cosine_pairs


def _typo(rng, s: str) -> str:
    chars = list(s)
    for _ in range(int(rng.integers(0, 3))):
        if not chars:
            break
        i = int(rng.integers(0, len(chars)))
        op = int(rng.integers(0, 4))
        if op == 0:
            del chars[i]
        elif op == 1:
            chars[i] = str(rng.choice(list("abcdefghijklmnopqrstuvwxyz")))
        elif op == 2:
            chars[i] = chars[i].upper()
        else:
            chars.insert(i, str(rng.choice(list(".-&, "))))
    return "".join(chars)


def fuzz_corpus(seeds) -> tuple[list, list]:
    """(from_list, to_list) over the given seeds, concatenated. Per seed:
    12 distinct names of 3-6 words (enough terms per pair for the term
    join's summation order to show in the last ulp), 15 repeats of them
    and the gram-less strings on the to-side; 24 typo'd copies (case and
    punctuation included) plus gram-less strings on the from-side."""
    frm, to = [], []
    for seed in seeds:
        rng = np.random.default_rng(seed)
        base = [
            " ".join(rng.choice(WORDS, size=int(rng.integers(3, 7))))
            for _ in range(12)
        ]
        t = base + [base[int(i)] for i in rng.integers(0, 12, 15)] + GRAMLESS
        t = [t[int(i)] for i in rng.permutation(len(t))]
        frm += [_typo(rng, t[int(i)]) for i in rng.integers(0, len(t), 24)]
        frm += GRAMLESS[:2]
        to += t
    return frm, to


def _match(spark, monkeypatch, tier, frm, to, **kw):
    monkeypatch.setattr(
        M, "DRIVER_MAX_DOCS", DRIVER_BOUND if tier == "driver" else 0
    )
    spark_tier = []

    def spy(*a, **k):
        spark_tier.append(1)
        return TERM_JOIN(*a, **k)

    monkeypatch.setattr(M, "sparse_cosine_pairs", spy)
    matcher = M.TFIDFMatcher(**kw)
    to_df = lists_to_df(spark, to) if to is not None else None
    out = matcher.match_df(lists_to_df(spark, frm), to_df)
    pdf = out.toPandas().sort_values(["from_id", "rank"])
    assert bool(spark_tier) == (tier == "spark"), tier
    return out.schema, pdf.reset_index(drop=True)


def _assert_tiers_agree(spark, monkeypatch, frm, to, **kw):
    d_schema, d = _match(spark, monkeypatch, "driver", frm, to, **kw)
    s_schema, s = _match(spark, monkeypatch, "spark", frm, to, **kw)
    assert d_schema == s_schema
    pd.testing.assert_frame_equal(d, s)
    return d


def _assert_repeats_rank_by_to_id(pdf: pd.DataFrame, frm: list,
                                  to: list | None) -> None:
    """Identical to-strings score identically, so among them the lower
    to_id must rank first, and a higher one may only be kept when every
    lower one is (a self-match never offers a from string itself)."""
    ids_of: dict[str, list[int]] = {}
    for i, s in enumerate(frm if to is None else to):
        ids_of.setdefault(s, []).append(i)
    for fid, rows in pdf[pdf["to_id"].notna()].groupby("from_id"):
        got = [int(t) for t in rows.sort_values("rank")["to_id"]]
        for key in set(rows["to_key"]):
            offered = [t for t in ids_of[key] if to is not None or t != fid]
            picked = [t for t in got if t in offered]
            assert picked == offered[: len(picked)], (fid, key, got)


# (top_n, min_similarity); 0.3125 is a half-milli threshold
GRID = [(1, 0.0), (3, 0.0), (3, 0.3125)]
SEEDS = range(1, 7)


@pytest.mark.parametrize("mode", ["two_list", "self"])
@pytest.mark.parametrize("seed", SEEDS)
def test_repeated_to_strings_rank_by_to_id(spark, monkeypatch, seed, mode):
    """Both tiers rank exact-duplicate to-strings by ``to_id`` (the Spark
    term join used to rank them by last-ulp summation noise, which shows
    on some seeds and not on others) and agree row for row on the seeded
    grid."""
    frm, to = fuzz_corpus([seed])
    if mode == "self":
        frm, to = to, None
    for top_n, min_sim in GRID:
        pdf = _assert_tiers_agree(
            spark, monkeypatch, frm, to, top_n=top_n, min_similarity=min_sim
        )
        _assert_repeats_rank_by_to_id(pdf, frm, to)


@pytest.mark.parametrize("mode", ["two_list", "self"])
def test_tiers_agree_without_cleaning(spark, monkeypatch, mode):
    """``clean_string=False`` keeps case and punctuation in the grams, so
    the driver tier's vectorizer takes its per-doc fallback; the grid runs
    once over every seed's strings together."""
    frm, to = fuzz_corpus(SEEDS)
    if mode == "self":
        frm, to = to, None
    for top_n, min_sim in GRID:
        pdf = _assert_tiers_agree(
            spark, monkeypatch, frm, to, top_n=top_n,
            min_similarity=min_sim, clean_string=False,
        )
        _assert_repeats_rank_by_to_id(pdf, frm, to)


GOLDEN_FROM = ["apple", "apples", "appl", "recal", "house", "similarity"]
GOLDEN_TO = ["apple", "apples", "mouse"]


@pytest.mark.parametrize(
    "frm,to,kw",
    [
        (GOLDEN_FROM, GOLDEN_TO, {"min_similarity": 0, "top_n": 1}),
        (GOLDEN_FROM, GOLDEN_TO, {"min_similarity": 0, "top_n": 5}),
        (GOLDEN_FROM, GOLDEN_TO, {"min_similarity": 0.9, "top_n": 1}),
        (GOLDEN_FROM, GOLDEN_TO, {"min_similarity": 0, "n_gram_range": (1, 3)}),
        (["apple", "apples", "appl"], None, {"min_similarity": 0}),
        (["apple", "apples", "appl"], ["apple", "apples", "appl"],
         {"min_similarity": 0}),
        (["ab", "apple"], ["apple", "apples"], {"min_similarity": 0}),
    ],
    ids=["readme", "top5", "cutoff", "ngram13", "self", "identical",
         "gramless"],
)
def test_tiers_agree_on_goldens(spark, monkeypatch, frm, to, kw):
    _assert_tiers_agree(spark, monkeypatch, frm, to, **kw)


@pytest.mark.parametrize("id_kind", ["struct", "string"])
def test_tiers_keep_the_id_type(spark, monkeypatch, id_kind):
    """128-bit struct ids (what ``group()`` feeds its grouper) and string
    ids come out with their own Spark type on both tiers."""
    from pyspark.sql import functions as F

    from polyfuzz_spark.functions.ids import content_id128

    def ids(strings):
        df = spark.createDataFrame([(s,) for s in strings], "key string")
        if id_kind == "struct":
            return df.select(content_id128("key").alias("doc_id"), "key")
        return df.select(F.concat(F.lit("k:"), "key").alias("doc_id"), "key")

    frm, to = fuzz_corpus([7])
    frm, to = sorted(set(frm)), sorted(set(to))  # one id per string
    out = {}
    for tier in ("driver", "spark"):
        monkeypatch.setattr(
            M, "DRIVER_MAX_DOCS", DRIVER_BOUND if tier == "driver" else 0
        )
        for name, args in (("two", (ids(frm), ids(to))),
                           ("self", (ids(to), None))):
            res = M.TFIDFMatcher(min_similarity=0, top_n=3).match_df(*args)
            assert res.schema["from_id"].dataType == args[0].schema[
                "doc_id"].dataType
            rows = sorted(
                (str(r.from_id), r.rank, str(r.to_id), r.similarity)
                for r in res.collect()
            )
            out[tier, name] = (res.schema, rows)
    for name in ("two", "self"):
        assert out["driver", name] == out["spark", name]


def test_tiers_agree_on_group_and_saved_idf(spark, monkeypatch, tmp_path):
    """``group()`` assignments, grouped matches, the saved IDF (bit for
    bit) and a later ``transform`` agree across tiers."""
    frm, to = fuzz_corpus([11])
    got = {}
    for tier in ("driver", "spark"):
        monkeypatch.setattr(
            M, "DRIVER_MAX_DOCS", DRIVER_BOUND if tier == "driver" else 0
        )
        pf = PolyFuzzSpark("TF-IDF", spark).fit(frm, to)
        pf.group(link_min_similarity=0.5)
        matches = pf.get_matches().toPandas().sort_values(["from_id", "rank"])
        clusters = pf.get_clusters().toPandas().sort_values("key")
        pf.save(str(tmp_path / tier))
        idf = pd.read_parquet(tmp_path / tier / "model_TF-IDF" / "idf")
        idf = idf.sort_values("term").reset_index(drop=True)
        transformed = (
            pf.transform(frm)["TF-IDF"].toPandas()
            .sort_values(["from_id", "rank"])
        )
        got[tier] = [
            df.reset_index(drop=True) for df in (matches, clusters, transformed)
        ] + [idf]
        assert len(clusters) > 0
    for a, b in zip(got["driver"], got["spark"]):
        pd.testing.assert_frame_equal(a, b, check_exact=True)
    d_idf, s_idf = got["driver"][-1], got["spark"][-1]
    assert (d_idf["idf"].to_numpy().view(np.int64)
            == s_idf["idf"].to_numpy().view(np.int64)).all()


def test_driver_tier_bound_falls_back_to_spark(spark, monkeypatch):
    """Inputs over the bound take the Spark tier; the bound counts both
    sides."""
    monkeypatch.setattr(M, "DRIVER_MAX_DOCS", 8)
    ran = []
    monkeypatch.setattr(
        M, "sparse_cosine_pairs",
        lambda *a, **k: ran.append(1) or TERM_JOIN(*a, **k),
    )
    m = M.TFIDFMatcher(min_similarity=0)
    m.match_df(lists_to_df(spark, GOLDEN_FROM), lists_to_df(spark, GOLDEN_TO))
    assert ran  # 6 + 3 > 8
    ran.clear()
    m.match_df(lists_to_df(spark, GOLDEN_FROM), None)
    assert not ran  # 6 ≤ 8


def _stages_run(sc, group: str) -> int:
    """Executed stages of a job group: stages with completed tasks
    (a stage skipped on a reused shuffle completes none)."""
    st = sc.statusTracker()
    n = 0
    for job in st.getJobIdsForGroup(group):
        for sid in st.getJobInfo(job).stageIds:
            info = st.getStageInfo(sid)
            n += bool(info and info.numCompletedTasks > 0)
    return n


# executed stages of match + collect + group + collect on the 6×3 fixture,
# measured on the driver tier: 21 since lists_to_df builds through Arrow
# (23 from Python row tuples; the Spark tier runs 27 + 128)
MATCH_GROUP_STAGES = 21


def test_match_and_group_stage_budget(spark, from_list, to_list):
    """The driver tier's stage budget; the Spark tier's cases are the
    forced-bound halves of the agreement tests above."""
    sc = spark.sparkContext
    group = "tfidf-match-group-stage-budget"
    sc.setJobGroup(group, "match + group stage budget")
    try:
        pf = PolyFuzzSpark("TF-IDF", spark).match(from_list, to_list)
        matched = pf.get_matches().toPandas()
        grouped = pf.group().get_matches().toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(matched) == len(grouped) == 6
    rows = {r.from_key: (r.to_key, r.similarity, r.group)
            for r in grouped.itertuples()}
    assert rows["appl"] == ("apple", 0.784, "apple")
    assert rows["house"] == ("mouse", 0.588, "mouse")
    assert _stages_run(sc, group) <= MATCH_GROUP_STAGES
