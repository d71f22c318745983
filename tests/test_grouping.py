"""Grouping + connected-components tests.

Golden memberships from ``/root/reference/tests/test_polyfuzz.py:74-100``;
threshold-sweep behavior from ``/root/reference/tests/test_linkage.py:12-31``.
Representative selection diverges deliberately (deterministic min(key)
instead of insertion order) — membership goldens still hold.
"""

import pytest

from polyfuzz_spark.api import PolyFuzzSpark
from polyfuzz_spark.operators.linkage import connected_components

from .test_minhash import _stages_run


def test_grouper_two_lists(spark, from_list, to_list):
    model = PolyFuzzSpark("TF-IDF", spark).match(from_list, to_list)
    model.group(link_min_similarity=0.75)
    wide = model.matches_pandas()
    assert list(wide.columns) == ["From", "To", "Similarity", "Group"]
    assert len(wide) == 6
    assert wide.Similarity.mean() > 0.3

    assignments = model.get_clusters().toPandas()
    clusters = assignments.groupby("cluster_id")["key"].apply(set).tolist()
    assert clusters == [{"apples", "apple"}]
    assert set(assignments.representative) == {"apple"}
    rows = {r.From: r.Group for r in wide.itertuples()}
    # appl matched 'apple' whose cluster representative is 'apple' (min-key)
    assert rows["appl"] == "apple"
    assert rows["house"] == "mouse"  # unclustered → Group falls back to To


def test_get_cluster_mappings_and_ids(spark, from_list, to_list):
    """Facade parity for the reference accessors polyfuzz.py:375-427
    (mirrors /root/reference/tests/test_polyfuzz.py:85-100: mappings
    {'apples': 1, 'apple': 1} — same membership, engine cluster ids)."""
    model = PolyFuzzSpark("TF-IDF", spark).match(from_list, to_list)
    assert model.get_ids() == ["TF-IDF"]
    with pytest.raises(ValueError, match="group"):
        model.get_cluster_mappings()
    model.group(link_min_similarity=0.75)
    mappings = model.get_cluster_mappings().toPandas()
    assert set(mappings.columns) == {"key", "cluster_id"}
    assert set(mappings.key) == {"apples", "apple"}
    assert mappings.cluster_id.nunique() == 1


def test_group_accepts_string_grouper(spark, from_list, to_list):
    """Reference polyfuzz.py:352-369 accepts model-name strings (its own
    dispatch tests self.method and is partly unreachable; we implement the
    documented intent)."""
    model = PolyFuzzSpark("TF-IDF", spark).match(from_list, to_list)
    model.group(model="TF-IDF", link_min_similarity=0.75)
    assignments = model.get_clusters().toPandas()
    clusters = assignments.groupby("cluster_id")["key"].apply(set).tolist()
    assert clusters == [{"apples", "apple"}]

    with pytest.raises(ValueError, match="choose one of"):
        PolyFuzzSpark("TF-IDF", spark).match(from_list, to_list).group(
            model="NoSuchModel"
        )


def test_group_embeddings_string_requires_encoder(spark, from_list, to_list):
    """Bare strings carry no embedding column and the engine has no
    string-encode step — the 'Embeddings' grouper must fail the contract
    clearly, not deep in the plan with an unresolved column."""
    m = PolyFuzzSpark("TF-IDF", spark).match(from_list, to_list)
    with pytest.raises(ValueError, match="encode"):
        m.group(model="Embeddings")


def test_grouper_same_list(spark, from_list):
    model = PolyFuzzSpark("TF-IDF", spark).match(from_list, from_list)
    model.group(link_min_similarity=0.75, group_all_strings=True)
    assignments = model.get_clusters().toPandas()
    clusters = assignments.groupby("cluster_id")["key"].apply(set).tolist()
    assert clusters == [{"apples", "apple", "appl"}]


@pytest.mark.parametrize("threshold", [0, .1, .2, .3, .4, .5, .6, .7, .8, .9, 1.0])
def test_linkage_threshold_sweep(spark, from_list, to_list, threshold):
    """Mirrors /root/reference/tests/test_linkage.py:12-31 — linkage applied
    directly to the from×to matches (grouper min_similarity 0.75)."""
    from polyfuzz_spark.api import lists_to_df
    from polyfuzz_spark.matchers import TFIDFMatcher
    from polyfuzz_spark.operators.linkage import filter_edges

    matches = TFIDFMatcher(min_similarity=0.75).match_df(
        lists_to_df(spark, from_list), lists_to_df(spark, to_list)
    )
    assignments = connected_components(filter_edges(matches, threshold)).toPandas()
    n_clusters = assignments.cluster_id.nunique()
    if threshold == 1.0:
        assert len(assignments) == 0
    elif threshold >= 0.8:
        assert n_clusters == 2 and len(assignments) == 2
    elif threshold >= 0.6:
        assert n_clusters == 2 and len(assignments) == 3


def test_connected_components_transitive(spark):
    """Chain a-b, b-c, c-d plus isolated e-f → two components.

    The reference's single pass would NOT merge a chain presented in
    adverse order; transitive closure must (north-rule upgrade)."""
    edges = spark.createDataFrame(
        [("c", "d"), ("a", "b"), ("b", "c"), ("e", "f")], "src string, dst string"
    )
    out = connected_components(edges).toPandas()
    comp = out.groupby("representative")["key"].apply(set).to_dict()
    assert comp == {"a": {"a", "b", "c", "d"}, "e": {"e", "f"}}
    # cluster_id is content-derived (stable across runs/partitionings)
    assert out[out.key == "d"].cluster_id.iloc[0] == out[
        out.key == "a"
    ].cluster_id.iloc[0]


def test_connected_components_path_graph_log_rounds(spark, monkeypatch):
    """Worst-case diameter: a 1000-node path must converge in O(log n)
    rounds (pointer doubling), not O(n) — at corpus scale a path-shaped
    component under one-hop propagation means hundreds of shuffle rounds.
    Forces the distributed tier (the driver union-find would otherwise
    absorb a graph this small)."""
    from polyfuzz_spark.operators import linkage

    monkeypatch.setattr(linkage, "SMALL_GRAPH_MAX_EDGES", 0)
    n = 1000
    keys = [f"{i:06d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(keys[i], keys[i + 1]) for i in range(n - 1)],
        "src string, dst string",
    )
    stats: dict = {}
    out = connected_components(edges, stats=stats).toPandas()
    assert set(out.representative) == {keys[0]}
    assert len(out) == n
    # log2(1000) ≈ 10; allow slack for the final no-change round
    assert 0 < stats["iterations"] <= 15, stats


# executed stages of connected_components(...).toPandas() on the
# 1,000-node path graph with the distributed tier forced (10 rounds), as
# measured
PATH_GRAPH_STAGES = 92


def test_distributed_tier_stage_budget(spark, monkeypatch):
    """Each distributed CC round is one materialization whose job also
    counts the changed labels; the tier choice rides the raw-edge
    checkpoint's job."""
    from polyfuzz_spark.operators import linkage

    monkeypatch.setattr(linkage, "SMALL_GRAPH_MAX_EDGES", 0)
    keys = [f"{i:06d}" for i in range(1000)]
    edges = spark.createDataFrame(
        list(zip(keys, keys[1:])), "src string, dst string"
    )
    sc = spark.sparkContext
    group = "cc-distributed-stage-budget"
    sc.setJobGroup(group, "connected_components stage budget")
    try:
        stats: dict = {}
        out = connected_components(edges, stats=stats).toPandas()
    finally:
        sc.setJobGroup("after-cc-stage-budget", "")
    assert set(out.representative) == {keys[0]} and len(out) == 1000
    stages = _stages_run(sc, group)
    assert stages <= PATH_GRAPH_STAGES, (stages, stats)


def test_driver_and_distributed_tiers_agree(spark, monkeypatch):
    """The size-adaptive CC tiers must be observationally identical:
    same (key, representative, cluster_id) rows on a graph mixing chains,
    stars, self-loops, and falsy keys."""
    from polyfuzz_spark.operators import linkage

    edge_list = (
        [(f"{i:03d}", f"{i + 1:03d}") for i in range(0, 40, 2)]   # chains
        + [("hub", f"spoke{i}") for i in range(10)]               # star
        + [("loop", "loop"), ("", "x"), ("x", "y")]               # quirks
    )
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    fast = connected_components(edges).toPandas()
    monkeypatch.setattr(linkage, "SMALL_GRAPH_MAX_EDGES", 0)
    stats: dict = {}
    slow = connected_components(edges, stats=stats).toPandas()
    assert stats["iterations"] > 0
    key = ["key", "representative", "cluster_id"]
    f = fast[key].sort_values("key").reset_index(drop=True)
    s = slow[key].sort_values("key").reset_index(drop=True)
    assert f.equals(s), (f, s)


def test_connected_components_empty_string_key(spark):
    # reference linkage.py breaks on falsy keys; we must not
    edges = spark.createDataFrame([("", "x")], "src string, dst string")
    out = connected_components(edges).toPandas()
    assert set(out.key) == {"", "x"}
    assert set(out.representative) == {""}


def test_dedup_corpus_keeps_min_id_per_transitive_cluster(spark):
    """Chain 1~2, 2~3 plus pair 10~11: survivors are each cluster's min id
    plus every unpaired doc, with all original columns intact."""
    from polyfuzz_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [(i, f"text {i}", f"s{i}") for i in (1, 2, 3, 5, 10, 11)],
        "doc_id long, key string, source string",
    )
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "from_id long, to_id long"
    )
    kept = dedup_corpus(docs, pairs).toPandas().sort_values("doc_id")
    assert list(kept.doc_id) == [1, 5, 10]
    assert set(kept.columns) == {"doc_id", "key", "source"}
    assert list(kept.key) == ["text 1", "text 5", "text 10"]


def test_dedup_corpus_no_pairs_is_identity(spark):
    from polyfuzz_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, key string"
    )
    pairs = spark.createDataFrame([], "from_id long, to_id long")
    assert dedup_corpus(docs, pairs).count() == 2


def _trigram_sketch_encoder(df):
    """Deterministic example encoder for the grouping-by-embeddings plug
    (VERDICT r02 item 6): 32-dim char-trigram count sketch, Arrow-batched
    mapInPandas — the shape a real SBERT-style encoder plug takes."""
    import zlib

    import numpy as np
    import pandas as pd

    cols = df.columns

    def gen(batches):
        for pdf in batches:
            embs = []
            for k in pdf["key"]:
                v = np.zeros(32)
                s = (k or "").lower()
                for i in range(len(s) - 2):
                    v[zlib.crc32(s[i:i + 3].encode()) % 32] += 1.0
                embs.append(v.tolist())
            yield pdf.assign(embedding=pd.Series(embs, dtype="object"))

    fields = ", ".join(f"{c} {t}" for c, t in df.dtypes)
    return df.mapInPandas(gen, schema=f"{fields}, embedding array<double>")


def test_group_with_embedding_encoder_end_to_end(spark, from_list, to_list):
    """Clustering by embedding cosine on bare strings, end to end: the
    encoder plug embeds the distinct To-strings on the fly and transitive
    clustering runs on the cosine edges."""
    from polyfuzz_spark.matchers import EmbeddingMatcher

    m = PolyFuzzSpark("TF-IDF", spark).match(from_list, to_list)
    grouper = EmbeddingMatcher(
        min_similarity=0.6, encoder=_trigram_sketch_encoder
    )
    m.group(model=grouper, link_min_similarity=0.6)
    pdf = m.matches_pandas()
    by_from = pdf.set_index("From")["Group"]
    # apple/apples share most trigrams -> one embedding cluster
    assert by_from["apple"] == by_from["apples"]
    clusters = m.get_clusters().toPandas()
    assert {"key", "cluster_id"}.issubset(clusters.columns)


def test_group_embeddings_string_reuses_fitted_encoder(spark, from_list,
                                                       to_list):
    """group(model='Embeddings') — the reference string — works when a
    fitted EmbeddingMatcher carries an encoder to reuse."""
    from polyfuzz_spark.matchers import EmbeddingMatcher

    matcher = EmbeddingMatcher(
        min_similarity=0.3, encoder=_trigram_sketch_encoder
    )
    m = PolyFuzzSpark(matcher, spark).match(from_list, to_list)
    m.group(model="Embeddings", link_min_similarity=0.6)
    pdf = m.matches_pandas()
    by_from = pdf.set_index("From")["Group"]
    assert by_from["apple"] == by_from["apples"]
