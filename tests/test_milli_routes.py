"""Route parity at a half-milli threshold: the two routes of one call
apply the same threshold rule to the same quantized score, so they return
identical rows (the dense broadcast route and the blocked route of a top-k
similarity join are interchangeable only under that condition), and the
engine's Jaccard milli equals the DuckDB oracle's at an exact half."""

import random
import string

import duckdb
import pandas as pd

from polyfuzz_spark.operators import adaptive, dedup, dense_cosine
from polyfuzz_spark.operators.mapside import fit_idf_mapside
from polyfuzz_spark.queries import JACCARD_T, ORACLE_JACCARD

NAMES = [
    "apple inc", "apple incorporated", "appel inc", "aple inc",
    "banana republic", "banana republik", "bananna republic",
    "cherry blossom ltd", "cherry blossom limited", "chery blossom ltd",
    "delta airlines", "delta air lines", "detla airlines",
    "eagle outfitters", "eagle outfitter", "american eagle outfitters",
]


def _half_milli_cut(values) -> tuple[int, float]:
    """An even milli m ≥ 300 among ``values`` and the threshold
    (m + 0.5) / 1000, chosen so t * 1000 is exactly the half: there
    half-to-even rounding keeps m while half-up drops it."""
    m = min(
        v for v in set(values)
        if v >= 300 and v % 2 == 0 and (v + 0.5) / 1000 * 1000 == v + 0.5
    )
    return m, (m + 0.5) / 1000


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


# one-row bands: the blocked route makes a pair a candidate when any of
# 128 MinHash minima agree, so it misses a pair of Jaccard j with
# probability (1 - j)^128 (below 1e-6 at j >= 0.1) and the comparison
# isolates the threshold rule from LSH recall. The default knobs (32
# bands of 2 rows) miss a j = 0.3 pair with probability 0.04, which
# "apple inc" / "apple incorporated" (j = 0.308) hits under the seed-42
# MinHash family.
FULL_RECALL_BANDING = {"num_hashes": 128, "bands": 128}


def test_routes_agree_at_a_half_milli_threshold(spark, monkeypatch):
    docs = spark.createDataFrame(
        list(enumerate(NAMES)), "doc_id long, key string"
    )
    model = fit_idf_mapside(docs, "key")

    def transform(t):
        return _rows(adaptive.tfidf_transform_topk(
            model, docs, docs, top_n=len(NAMES), min_similarity=t,
            **FULL_RECALL_BANDING,
        ))

    m, t = _half_milli_cut(r[2] for r in transform(0.0))
    dense = transform(t)
    monkeypatch.setattr(dense_cosine, "BROADCAST_MAX_DOCS", 0)
    blocked = transform(t)
    monkeypatch.undo()
    assert dense and min(r[2] for r in dense) > m
    assert blocked == dense

    def contain(t):
        return _rows(dedup.ngram_containment_pairs(docs, threshold=t))

    m, t = _half_milli_cut(r[2] for r in contain(0.0))
    dense = contain(t)
    monkeypatch.setattr(dedup, "DENSE_MAX_VOCAB", 0)
    joined = contain(t)
    monkeypatch.undo()
    assert dense and min(r[2] for r in dense) > m
    assert joined == dense


def _distinct_trigram_text(n_chars: int, seed: int = 7) -> str:
    """A string whose 3-grams are pairwise distinct."""
    rng = random.Random(seed)
    alphabet = string.ascii_letters + string.digits
    out, seen = list("ab"), set()
    while len(out) < n_chars:
        c = rng.choice(alphabet)
        if out[-2] + out[-1] + c not in seen:
            seen.add(out[-2] + out[-1] + c)
            out.append(c)
    return "".join(out)


def test_jaccard_exact_half_matches_the_oracle(spark, monkeypatch):
    """201 shared grams of a 400-gram union: Jaccard 0.5025 → 503 on
    every route and in ORACLE_JACCARD."""
    text = _distinct_trigram_text(402)
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": [text, text[199:]]})
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle = con.execute(
        ORACLE_JACCARD.replace(f">= {JACCARD_T}", ">= 0.5")
    ).fetchall()
    assert oracle == [(0, 1, 503)]
    docs = spark.createDataFrame(pdf.rename(columns={"text": "key"}))
    assert _rows(dedup.ngram_jaccard_pairs(docs, threshold=0.5)) == oracle
    monkeypatch.setattr(dedup, "DENSE_MAX_VOCAB", 0)
    assert _rows(dedup.ngram_jaccard_pairs(docs, threshold=0.5)) == oracle
