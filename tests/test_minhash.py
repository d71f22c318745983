"""One MinHash family: ``mapside.minhash_bands_mapside`` builds every
signature and band key in the library. Both sides of a candidate set band
with it, its raw-shingle fallback survives gram-less batches, the banded
join runs in a pinned number of stages, and no other module spells out a
MinHash generator of its own."""

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from polyfuzz_spark.functions.ids import content_id128, id_type
from polyfuzz_spark.operators.blocking import minhash_candidates
from polyfuzz_spark.operators.dedup import raw_shingles
from polyfuzz_spark.operators.mapside import minhash_bands_mapside
from polyfuzz_spark.operators.tfidf import TfidfConfig
from polyfuzz_spark.sources.corpus import generate_corpus


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


# executed stages of minhash_candidates(...).count() on
# generate_corpus(80, seed=7): the JVM signature generator ran 9 self-mode
# and 13 two-sided; the map-side kernel runs 8 and 11
SELF_STAGES = 8
TWO_SIDED_STAGES = 11


@pytest.fixture(scope="module")
def planted(spark):
    corpus = generate_corpus(spark, n_entities=80, seed=7)
    return corpus.select(
        "doc_id", F.col("content").alias("key")
    ).localCheckpoint(eager=True)


@pytest.mark.parametrize("two_sided,budget", [
    (False, SELF_STAGES), (True, TWO_SIDED_STAGES),
])
def test_minhash_candidates_stage_budget(spark, planted, two_sided, budget):
    sc = spark.sparkContext
    group = f"minhash-candidates-stages-{two_sided}"
    sc.setJobGroup(group, "minhash_candidates stage budget")
    try:
        if two_sided:
            n = minhash_candidates(
                planted.where("doc_id % 2 = 0"),
                planted.where("doc_id % 2 = 1"),
            ).count()
        else:
            n = minhash_candidates(planted).count()
    finally:
        sc.setJobGroup("after-minhash-stage-budget", "")
    assert n > 0
    assert _stages_run(sc, group) <= budget


def test_near_dups_band_unordered_pairs(spark, planted, monkeypatch):
    """The banded near-dup route emits each unordered candidate pair once;
    its verified pairs equal those of verifying the both-orientations
    self-mode candidates cut to from_id < to_id."""
    from polyfuzz_spark.operators import dedup

    monkeypatch.setattr(dedup, "DENSE_MAX_VOCAB", 0)  # force banded route
    got = dedup.minhash_near_dups(planted, "key", threshold=0.6)
    both = minhash_candidates(
        planted, None, "key", raw_shingles(3), num_hashes=128, bands=32,
        max_bucket_size=20_000,
    ).where(F.col("from_id") < F.col("to_id"))
    want = dedup._verified_jaccard(
        both, dedup._distinct_grams(planted, "key", 3), 0.6
    )
    rows = sorted(map(tuple, got.collect()))
    assert rows and rows == sorted(map(tuple, want.collect()))


def test_both_sides_band_with_one_family(spark, planted):
    """Two-sided candidates are exactly the cross pairs of the self-mode
    candidate set over the union: both sides hash with the same family."""
    left = planted.where("doc_id % 2 = 0")
    right = planted.where("doc_id % 2 = 1")
    two = {tuple(r) for r in minhash_candidates(left, right).collect()}
    self_pairs = {
        tuple(r) for r in minhash_candidates(planted).where(
            (F.col("from_id") % 2 == 0) & (F.col("to_id") % 2 == 1)
        ).collect()
    }
    assert two == self_pairs and len(two) > 0


@pytest.mark.parametrize("id_kind", ["bigint", "string", "struct"])
def test_gram_less_batch_keeps_the_id_type(spark, id_kind):
    """A raw-shingle batch whose docs are all shorter than n emits an
    empty frame through Arrow under the declared id type, and a longer doc
    in the same call still bands."""
    short = spark.createDataFrame(
        [(i, k) for i, k in enumerate(["hi", "yo", "", None])],
        "doc_id long, key string",
    ).repartition(1)
    ids = {
        "bigint": F.col("doc_id"),
        "string": F.col("doc_id").cast("string"),
        "struct": content_id128("doc_id"),
    }[id_kind]
    docs = short.select(ids.alias("doc_id"), "key")
    bands = minhash_bands_mapside(docs, cfg=raw_shingles(3), bands=16)
    assert id_type(bands, "doc_id") == id_type(docs, "doc_id")
    assert bands.count() == 0

    longer = docs.unionByName(
        spark.createDataFrame([(9, "a longer document")], "doc_id long, key string")
        .select(ids.alias("doc_id"), "key")
    )
    got = minhash_bands_mapside(longer, cfg=raw_shingles(3), bands=16)
    assert got.count() == 16


def test_raw_and_cleaned_grams_band_alike(spark):
    """On already-clean text the raw-shingle grams (each doc's packed
    distinct set) and the cleaned byte windows are the same grams, so
    they give the same band keys."""
    docs = spark.createDataFrame(
        [(i, f"banana split number {i} with extra words") for i in range(40)]
        + [(100, "x")],
        "doc_id long, key string",
    )
    cleaned = TfidfConfig(n_gram_range=(3, 3), remove_space_ngrams=False)

    def rows(cfg):
        return sorted(map(tuple, minhash_bands_mapside(
            docs, cfg=cfg, num_hashes=32, bands=8
        ).collect()))

    raw = rows(raw_shingles(3))
    assert rows(cleaned) == raw and len(raw) == 40 * 8


# a MinHash generator outside operators/mapside.py: a JVM min-of-hashes
# aggregate, a band hash over a signature slice (a slice hashed together
# with a band salt — the rolling window hash xxhash64(slice(...)) of the
# decontam/substring operators takes no salt), numpy per-doc minima, or
# the names of the deleted JVM generator
_GUARDS = {
    "min-of-hashes aggregate": re.compile(r"\bmin\(\s*(F\.)?xxhash64\("),
    "band hash over a slice": re.compile(
        r"xxhash64\(\s*(F\.)?slice\((?:[^()]|\([^()]*\))*\)\s*,"),
    "numpy signature minima": re.compile(r"np\.minimum\.reduceat\("),
    "JVM generator name": re.compile(r"\b(minhash_signatures|band_keys)\b"),
}


@pytest.mark.parametrize("bad,ok", [
    ('F.min(F.xxhash64("term", F.lit(i), F.lit(seed)))',
     'F.min("h").alias("m")'),
    ('F.xxhash64(\n    F.slice("sig", b * r + 1, r), F.lit(b)\n)',
     'F.xxhash64(F.slice("__h", i, n))'),
    ("xxhash64(slice(sig, (b * 4) + 1, 4), b)",
     "xxhash64(slice(toks, i, n))"),
    ("np.minimum.reduceat(h, offs)", "np.minimum(a, b)"),
    ("sig = minhash_signatures(d)", "bands = minhash_bands_mapside(d)"),
    ("from .blocking import band_keys", "F.col('band_key')"),
])
def test_source_guard_patterns(bad, ok):
    assert any(p.search(bad) for p in _GUARDS.values())
    assert not any(p.search(ok) for p in _GUARDS.values())


def test_no_minhash_generator_outside_mapside():
    pkg = Path(__file__).resolve().parents[1] / "polyfuzz_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "operators/mapside.py":
            continue
        text = path.read_text()
        for name, pat in _GUARDS.items():
            for m in pat.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                hits.append(f"{path.relative_to(pkg)}:{line}: {name}")
    assert not hits, "\n".join(hits)
