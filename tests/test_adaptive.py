"""Size-switch tests: force every dense fast path over its broadcast budget
(monkeypatched to 0) and verify the scale path that fires instead.

* jaccard join path + minhash LSH path: EXACT — re-checked against the same
  DuckDB oracles the driver runs.
* TF-IDF blocked path: approximate candidate set, exact scores — every
  emitted pair must carry the bit-identical milli score of the all-pairs
  oracle (precision 1), with high top-1 agreement.
* embedding LSH fallback: same output contract, recall floor vs brute force.
* over-budget dense entrypoints refuse instead of collecting the corpus.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from polyfuzz_spark.operators import dedup, dense_cosine
from polyfuzz_spark.queries import (
    ORACLE_EMB_DUPS,
    ORACLE_JACCARD,
    ORACLE_MINHASH,
    ORACLE_TFIDF_TOP1,
    TFIDF_MIN_SIM,
    _tfidf_oracle_cte,
)
from tests.oracle_compare import compare, duckdb_con

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def con():
    return duckdb_con(SF)


def test_jaccard_join_path_matches_oracle(spark, con, monkeypatch):
    """DENSE_MAX_VOCAB=0 forces the term-join path — exact, so the oracle
    must stay green (the switch fires AND the fallback is correct)."""
    monkeypatch.setattr(dedup, "DENSE_MAX_VOCAB", 0)
    got = QUERIES["ngram_jaccard_dups"](spark, SF)
    exp = con.execute(ORACLE_JACCARD).df()
    ok, msg = compare(got, exp)
    assert ok, msg


def test_jaccard_distinct_set_route_matches_oracle(spark, con, monkeypatch):
    """DENSE_MAX_DOCS=0 with a tiny vocab forces the distinct-gram-set
    reduction (group identical sets → dense over distinct sets → expand
    members) — exact, oracle must stay green."""
    monkeypatch.setattr(dedup, "DENSE_MAX_DOCS", 0)
    got = QUERIES["ngram_jaccard_dups"](spark, SF)
    exp = con.execute(ORACLE_JACCARD).df()
    ok, msg = compare(got, exp)
    assert ok, msg


def test_minhash_lsh_path_matches_oracle(spark, con, monkeypatch):
    """DENSE_MAX_VOCAB=0 forces banded-LSH candidates + exact verify; at
    j >= 0.8 with 32 bands x 4 rows the miss probability is ~5e-8, so the
    exact oracle must match."""
    monkeypatch.setattr(dedup, "DENSE_MAX_VOCAB", 0)
    got = QUERIES["minhash_near_dups"](spark, SF)
    exp = con.execute(ORACLE_MINHASH).df()
    ok, msg = compare(got, exp)
    assert ok, msg


def test_minhash_distinct_set_route_matches_oracle(spark, con, monkeypatch):
    """Tiny vocab + over-budget corpus must take the exact distinct-set
    route (never an uncapped all-collide banded join)."""
    monkeypatch.setattr(dedup, "DENSE_MAX_DOCS", 0)
    got = QUERIES["minhash_near_dups"](spark, SF)
    exp = con.execute(ORACLE_MINHASH).df()
    ok, msg = compare(got, exp)
    assert ok, msg


def test_distinct_set_route_refuses_unbounded_sets(spark, monkeypatch):
    monkeypatch.setattr(dedup, "DENSE_MAX_DOCS", 0)
    monkeypatch.setattr(dedup, "DENSE_MAX_SETS", 1)
    docs = spark.createDataFrame(
        [(i, f"abc{i % 7}xyz") for i in range(30)], "doc_id long, key string"
    )
    with pytest.raises(ValueError, match="DENSE_MAX_SETS"):
        dedup.ngram_jaccard_pairs(docs, threshold=0.5).count()


def test_tfidf_blocked_path_fires_and_scores_exact(spark, con, monkeypatch):
    """BROADCAST_MAX_DOCS=0 forces the blocked LSH + packed-rescore path.
    Candidates are approximate (documented), but every score must be
    bit-identical to the all-pairs oracle, and the top-1 assignment must
    agree with the oracle on nearly every from-doc."""
    monkeypatch.setattr(dense_cosine, "BROADCAST_MAX_DOCS", 0)
    got = QUERIES["tfidf_match_top1"](spark, SF).toPandas()

    exact = con.execute(
        f"WITH {_tfidf_oracle_cte(TFIDF_MIN_SIM)} "
        "SELECT from_id, to_id, sim_milli FROM pairs"
    ).df()
    merged = got[got.to_id.notna()].merge(
        exact, on=["from_id", "to_id"], how="left", suffixes=("", "_exact")
    )
    assert merged.sim_milli_exact.notna().all(), "blocked path invented a pair"
    assert (merged.sim_milli == merged.sim_milli_exact).all(), (
        "blocked-path scores diverge from the exact oracle"
    )

    best = con.execute(ORACLE_TFIDF_TOP1).df()
    j = got.set_index("from_id").join(
        best.set_index("from_id"), rsuffix="_o"
    )
    same = (
        (j.to_id.fillna(-1) == j.to_id_o.fillna(-1))
        & (j.sim_milli == j.sim_milli_o)
    ).mean()
    assert same >= 0.9, f"top-1 agreement {same:.3f} < 0.9"


def test_embedding_lsh_fallback_fires_with_recall(spark, monkeypatch):
    exact = QUERIES["embedding_cosine_top3"](spark, SF).toPandas()
    monkeypatch.setattr(dense_cosine, "BROADCAST_MAX_DOCS", 0)
    approx = QUERIES["embedding_cosine_top3"](spark, SF)
    assert approx.columns == ["query_id", "neighbor_id", "rnk", "cos_milli"]
    apdf = approx.toPandas()
    e1 = exact[exact.rnk == 1].set_index("query_id").neighbor_id
    a1 = apdf[apdf.rnk == 1].set_index("query_id").neighbor_id
    joined = e1.to_frame("e").join(a1.to_frame("a"), how="left")
    recall = (joined.e == joined.a).mean()
    assert recall >= 0.6, recall


def test_embedding_near_dups_lsh_fallback(spark, con, monkeypatch):
    """Over budget, near-dup detection takes LSH candidates + exact
    re-score: precision must stay 1 (every emitted pair exists in the
    oracle with the identical milli score); recall has an LSH floor."""
    exact = con.execute(ORACLE_EMB_DUPS).df()
    monkeypatch.setattr(dense_cosine, "BROADCAST_MAX_DOCS", 0)
    got = QUERIES["embedding_near_dups"](spark, SF).toPandas()
    merged = got.merge(exact, on=["from_id", "to_id"], suffixes=("", "_e"))
    assert len(merged) == len(got), "LSH fallback emitted a non-oracle pair"
    assert (merged.cos_milli == merged.cos_milli_e).all()
    assert len(got) >= 0.5 * len(exact), (len(got), len(exact))


def test_tfidf_matcher_auto_blocking_switch(spark, from_list, monkeypatch):
    """use_blocking=None flips to banded-MinHash candidates above the
    (monkeypatched) size threshold; high-similarity pairs must survive
    blocking (j(apple, apples)=0.75 → P(≥1 band) ≈ 0.998, seeded)."""
    import polyfuzz_spark.matchers as M
    from polyfuzz_spark.api import lists_to_df

    monkeypatch.setattr(M, "AUTO_BLOCKING_MIN_DOCS", 0)
    matcher = M.TFIDFMatcher(min_similarity=0.3, top_n=1)
    out = matcher.match_df(lists_to_df(spark, from_list)).toPandas()
    assert len(out[out["rank"] == 1]) == 6
    best = out[out["rank"] == 1].set_index("from_key").to_key
    assert best["apple"] == "apples" and best["apples"] == "apple"


def test_editdistance_matcher_auto_blocking_switch(spark, from_list,
                                                   monkeypatch):
    """RapidFuzz/EditDistance matchers share the size-adaptive blocking
    rule — above the (monkeypatched) threshold the scan runs on MinHash
    candidates, and near-identical strings still find each other."""
    import polyfuzz_spark.matchers as M
    from polyfuzz_spark.api import lists_to_df
    from polyfuzz_spark.scorers.editdistance import RapidFuzzMatcher

    monkeypatch.setattr(M, "AUTO_BLOCKING_MIN_DOCS", 0)
    out = RapidFuzzMatcher().match_df(
        lists_to_df(spark, from_list)
    ).toPandas()
    assert len(out[out["rank"] == 1]) == 6
    best = out[out["rank"] == 1].set_index("from_key").to_key
    assert best["apple"] == "apples" and best["appl"] in ("apple", "apples")


def test_dense_entrypoints_refuse_over_budget(spark, monkeypatch):
    """The low-level dense ops must REFUSE (not silently collect) when the
    corpus exceeds the broadcast budget."""
    from polyfuzz_spark.operators.mapside import (
        fit_idf_mapside,
        vectorize_packed_mapside,
    )

    docs = spark.createDataFrame(
        [(i, f"string number {i}") for i in range(20)], "doc_id long, key string"
    )
    model = fit_idf_mapside(docs, "key")
    packed = vectorize_packed_mapside(model, docs, "key")
    monkeypatch.setattr(dense_cosine, "BROADCAST_MAX_DOCS", 0)
    with pytest.raises(ValueError, match="broadcast budget"):
        dense_cosine.tfidf_dense_topk_packed_two(
            packed, packed, model.idf.count()
        )


def test_tfidf_transform_blocked_path_fires_and_scores_exact(
    spark, con, monkeypatch
):
    """BROADCAST_MAX_DOCS=0 forces the two-list transform dispatcher onto
    blocked MinHash candidates + packed re-scoring. Candidates are
    approximate; every emitted pair's score must be bit-identical to the
    all-pairs transform oracle (precision 1), with high top-1 agreement."""
    from polyfuzz_spark.queries import ORACLE_TFIDF_TRANSFORM

    monkeypatch.setattr(dense_cosine, "BROADCAST_MAX_DOCS", 0)
    got = QUERIES["tfidf_transform_top1"](spark, SF).toPandas()

    # all-pairs milli scores from the oracle's CTE chain (drop the final
    # top-1 projection: keep every thresholded pair)
    prefix = (
        ORACLE_TFIDF_TRANSFORM.split("\nbest AS")[0].rstrip().rstrip(",")
    )
    exact = con.execute(
        prefix + "\nSELECT from_id, to_id, sim_milli FROM pairs"
    ).df()
    merged = got[got.to_id.notna()].merge(
        exact, on=["from_id", "to_id"], how="left", suffixes=("", "_exact")
    )
    assert merged.sim_milli_exact.notna().all(), "blocked path invented a pair"
    assert (merged.sim_milli == merged.sim_milli_exact).all(), (
        "blocked-path scores diverge from the exact oracle"
    )

    best = con.execute(ORACLE_TFIDF_TRANSFORM).df()
    j = got.set_index("from_id").join(best.set_index("from_id"), rsuffix="_o")
    same = (
        (j.to_id.fillna(-1) == j.to_id_o.fillna(-1))
        & (j.sim_milli == j.sim_milli_o)
    ).mean()
    assert same >= 0.9, f"top-1 agreement {same:.3f} < 0.9"


# ---------------------------------------------------------------- round 3
# size-adapted blocking knobs + id_col threading + no model mutation


def test_blocking_knob_resolver_regimes():
    from polyfuzz_spark.operators import adaptive

    assert adaptive.resolve_blocking_knobs(1000) == adaptive.PERMISSIVE_KNOBS
    assert adaptive.resolve_blocking_knobs(10**6) == adaptive.SCALE_KNOBS
    assert adaptive.resolve_blocking_knobs(10**7) == adaptive.XSCALE_KNOBS
    k = adaptive.resolve_blocking_knobs(10**6, bands=8, max_bucket_size=None)
    assert k["bands"] == 8 and k["max_bucket_size"] is None
    assert k["num_hashes"] == 64 and k["min_shared_bands"] == 2
    # explicit knobs win in the small regime too
    k = adaptive.resolve_blocking_knobs(10, min_shared_bands=3)
    assert k["min_shared_bands"] == 3 and k["bands"] == 32


def _tiny_docs(spark, n=40):
    return spark.createDataFrame(
        [(i, f"banana split number {i}") for i in range(n)],
        "doc_id long, key string",
    )


def test_transform_blocked_branch_picks_scale_knobs(spark, monkeypatch):
    """Force the blocked route AND a zero knob threshold: the dispatcher
    must hand minhash_candidates the measured-safe ER config, not the
    permissive small-corpus set (VERDICT r02 item 1)."""
    from polyfuzz_spark.operators import adaptive, blocking
    from polyfuzz_spark.operators.mapside import fit_idf_mapside

    monkeypatch.setattr(dense_cosine, "BROADCAST_MAX_DOCS", 0)
    monkeypatch.setattr(adaptive, "BLOCKED_KNOBS_MIN_DOCS", 0)
    seen = {}
    real = blocking.minhash_candidates

    def spy(*a, **kw):
        seen.update({k: kw[k] for k in adaptive.SCALE_KNOBS})
        return real(*a, **kw)

    monkeypatch.setattr(blocking, "minhash_candidates", spy)
    docs = _tiny_docs(spark)
    model = fit_idf_mapside(docs, "key")
    adaptive.tfidf_transform_topk(model, docs, docs).count()
    assert seen == adaptive.SCALE_KNOBS


def test_selfmatch_blocked_branch_picks_scale_knobs(spark, monkeypatch):
    from polyfuzz_spark.operators import adaptive, mapside

    monkeypatch.setattr(dense_cosine, "BROADCAST_MAX_DOCS", 0)
    monkeypatch.setattr(adaptive, "BLOCKED_KNOBS_MIN_DOCS", 0)
    seen = {}
    real_bands = mapside.minhash_bands_mapside
    real_cands = mapside.candidates_from_bands

    def spy_bands(*a, **kw):
        seen["num_hashes"] = kw["num_hashes"]
        seen["bands"] = kw["bands"]
        return real_bands(*a, **kw)

    def spy_cands(*a, **kw):
        seen["max_bucket_size"] = kw["max_bucket_size"]
        seen["min_shared_bands"] = kw["min_shared_bands"]
        return real_cands(*a, **kw)

    monkeypatch.setattr(mapside, "minhash_bands_mapside", spy_bands)
    monkeypatch.setattr(mapside, "candidates_from_bands", spy_cands)
    adaptive.tfidf_selfmatch_topk(_tiny_docs(spark)).count()
    assert seen == adaptive.SCALE_KNOBS


def test_transform_blocked_custom_id_col(spark, monkeypatch):
    """A non-default id_col must produce the same matches on the BLOCKED
    branch as the default one (ADVICE r02: it used to fail with
    AnalysisException only above the broadcast budget)."""
    from polyfuzz_spark.operators import adaptive
    from polyfuzz_spark.operators.mapside import fit_idf_mapside

    monkeypatch.setattr(dense_cosine, "BROADCAST_MAX_DOCS", 0)
    docs = _tiny_docs(spark)
    model = fit_idf_mapside(docs, "key")
    want = sorted(
        map(tuple, adaptive.tfidf_transform_topk(
            model, docs, docs, top_n=2
        ).collect())
    )
    renamed = docs.withColumnRenamed("doc_id", "uid")
    got = sorted(
        map(tuple, adaptive.tfidf_transform_topk(
            model, renamed, renamed, top_n=2, id_col="uid"
        ).collect())
    )
    assert got == want and len(got) > 0


def test_transform_does_not_mutate_model(spark):
    """Repeated transform calls must not stack localCheckpoints on the
    caller's model (ADVICE r02)."""
    from polyfuzz_spark.operators import adaptive
    from polyfuzz_spark.operators.mapside import fit_idf_mapside

    docs = _tiny_docs(spark, 10)
    model = fit_idf_mapside(docs, "key")
    idf_before = model.idf
    adaptive.tfidf_transform_topk(model, docs, docs).count()
    assert model.idf is idf_before


def test_containment_join_path_matches_oracle(spark, con, monkeypatch):
    """DENSE_MAX_VOCAB=0 forces containment's gram-join path — exact, so
    the oracle must stay green (the routing gate fires AND the large-vocab
    fallback is correct)."""
    from polyfuzz_spark.queries import ORACLE_CONTAINMENT

    monkeypatch.setattr(dedup, "DENSE_MAX_VOCAB", 0)
    got = QUERIES["containment_dups"](spark, SF)
    exp = con.execute(ORACLE_CONTAINMENT).df()
    ok, msg = compare(got, exp)
    assert ok, msg


def test_containment_distinct_set_route_matches_oracle(
    spark, con, monkeypatch
):
    """DENSE_MAX_DOCS=0 with a tiny vocab forces the containment
    distinct-gram-set reduction (rep-pair scoring + per-member
    orientation on size ties) — exact, oracle must stay green."""
    from polyfuzz_spark.queries import ORACLE_CONTAINMENT

    monkeypatch.setattr(dedup, "DENSE_MAX_DOCS", 0)
    got = QUERIES["containment_dups"](spark, SF)
    exp = con.execute(ORACLE_CONTAINMENT).df()
    ok, msg = compare(got, exp)
    assert ok, msg


def test_minhash_candidates_pair_budget_gate(spark):
    """Two-sided measured fan-out gate at the blocking chokepoint: a
    concentrated corpus over a tiny budget demotes to the SCALE cap and
    ≥2 shared bands — and exact duplicates (which share ALL bands)
    survive the demotion, so downstream exact verification is unchanged."""
    from polyfuzz_spark.operators import adaptive
    from polyfuzz_spark.operators.blocking import minhash_candidates
    from polyfuzz_spark.operators.tfidf import TfidfConfig

    text = "def shared_template(): return compute_the_same_thing(x, y)"
    a = spark.createDataFrame(
        [(i, text) for i in range(20)], ["doc_id", "key"]
    )
    b = spark.createDataFrame(
        [(i + 100, text) for i in range(20)], ["doc_id", "key"]
    )
    cfg = TfidfConfig(n_gram_range=(3, 3), clean_string=False,
                      remove_space_ngrams=False)
    stats: dict = {}
    cands = minhash_candidates(
        a, b, "key", cfg, max_bucket_size=5000, min_shared_bands=1,
        pair_budget=10, budget_stats=stats,
    )
    assert stats["demoted"] is True
    assert stats["measured_pairs"] >= 16 * 400  # 16 bands × 20×20
    # still over budget at the SCALE cap → the graduated gate lands on
    # the XSCALE tier (10M-leg lesson)
    assert stats["max_bucket_size"] == \
        adaptive.XSCALE_KNOBS["max_bucket_size"]
    assert stats["min_shared_bands"] == \
        adaptive.XSCALE_KNOBS["min_shared_bands"]
    # identical docs share all bands → every cross pair still a candidate
    assert cands.count() == 400

    # under budget → untouched
    stats2: dict = {}
    minhash_candidates(
        a, b, "key", cfg, max_bucket_size=5000, min_shared_bands=1,
        pair_budget=10_000_000, budget_stats=stats2,
    ).count()
    assert stats2["demoted"] is False
    assert stats2["max_bucket_size"] == 5000
