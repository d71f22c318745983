"""Persistent snapshot index (operators/snapshot.py): build → dedup →
append → dedup again, pinned against the recompute-everything verb
(``dedup.dedup_against``) — the index must change WHERE the corpus side
comes from, never WHAT survives."""

import json
import os

import pytest
from pyspark.sql import functions as F

from polyfuzz_spark.operators.dedup import dedup_against
from polyfuzz_spark.operators.snapshot import (
    FORMAT_VERSION,
    append_to_snapshot_index,
    build_snapshot_index,
    dedup_against_snapshot_index,
    load_manifest,
)

BASE = "the quick brown fox jumps over the lazy dog while the cat watches "


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, key string")


@pytest.fixture(scope="module")
def corpus(spark):
    return _df(
        spark,
        [
            (0, BASE + "from the old wooden fence near the garden wall"),
            (1, "import numpy as np\nimport pandas as pd\n\ndef main():\n    return 0"),
            (2, "completely distinct corpus document three with its own words"),
            (3, "hi"),  # shorter than the shingle width
        ],
    )


@pytest.fixture(scope="module")
def batch(spark):
    return _df(
        spark,
        [
            # exact dup of corpus 0
            (10, BASE + "from the old wooden fence near the garden wall"),
            # near dup of corpus 0 (one word changed at the end)
            (11, BASE + "from the old wooden fence near the garden door"),
            # novel
            (12, "a brand new document that matches nothing in the corpus"),
            # exact dup of the short doc (no shingles — sha path must catch)
            (13, "hi"),
            # short novel doc
            (14, "yo"),
        ],
    )


def _ids(df):
    return sorted(r.doc_id for r in df.collect())


def test_index_dedup_matches_recompute_verb(spark, corpus, batch, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("snap") / "ix")
    mf = build_snapshot_index(corpus, path)
    assert mf["rows"] == 4 and load_manifest(path)["n"] == 3
    via_index = _ids(dedup_against_snapshot_index(batch, path, threshold=0.8))
    via_verb = _ids(dedup_against(batch, corpus, threshold=0.8))
    assert via_index == via_verb == [12, 14]


def test_append_evolves_the_snapshot(spark, corpus, batch, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("snap") / "ix")
    build_snapshot_index(corpus, path)
    surv1 = dedup_against_snapshot_index(batch, path, threshold=0.8)
    mf = append_to_snapshot_index(surv1, path)
    assert mf["rows"] == 4 + 2
    # batch 2: near-dup of a BATCH-1 survivor (doc 12) + one novel doc —
    # only the evolved index can drop 20
    batch2 = _df(
        spark,
        [
            (20, "a brand new document that matches nothing in the corpus!"),
            (21, "entirely fresh content for snapshot two of the crawl"),
        ],
    )
    via_index = _ids(dedup_against_snapshot_index(batch2, path, threshold=0.7))
    standing = corpus.unionByName(
        surv1.select("doc_id", "key")
    )
    via_verb = _ids(dedup_against(batch2, standing, threshold=0.7))
    assert via_index == via_verb == [21]


def test_manifest_knobs_are_frozen(spark, corpus, batch, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("snap") / "ix")
    mf = build_snapshot_index(corpus, path, num_hashes=32, bands=8)
    assert (mf["num_hashes"], mf["bands"]) == (32, 8)
    # query side must band with the stored knobs (wrong knobs would make
    # band keys incomparable and silently zero the candidate set: the
    # near-dup 11 would survive)
    surv = _ids(dedup_against_snapshot_index(batch, path, threshold=0.8))
    assert 11 not in surv and 12 in surv


def test_exact_path_does_not_need_shingles(spark, corpus, batch, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("snap") / "ix")
    build_snapshot_index(corpus, path)
    surv = dedup_against_snapshot_index(batch, path)
    # "hi" (13) dropped via sha even though it emits no 3-gram bands;
    # "yo" (14) survives
    got = _ids(surv)
    assert 13 not in got and 14 in got


def test_snapshot_diff_null_content_rows(spark):
    """Presence is tracked by markers, not digest nullability: a
    null-content row diffs as changed/removed, never as 'added'."""
    from pyspark.sql import functions as F

    from polyfuzz_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, "keep"), (3, None)], "doc_id long, content string"
    )
    new = spark.createDataFrame(
        [(1, "x"), (2, "keep"), (4, None)], "doc_id long, content string"
    )
    out = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    # 1: null -> 'x' is a change; 3: null-content row deleted -> removed;
    # 4: new null-content row -> added; 2: unchanged -> omitted
    assert out == {1: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_basic(spark):
    from polyfuzz_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, content string"
    )
    new = spark.createDataFrame(
        [(2, "b2"), (5, "e")], "doc_id long, content string"
    )
    out = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert out == {1: "removed", 2: "changed", 5: "added"}


def test_all_gram_less_batch(spark, corpus, tmp_path_factory):
    """A batch whose docs are all shorter than the shingle width emits no
    band rows at all; the exact path still drops "hi" and the append
    writes no bands."""
    path = str(tmp_path_factory.mktemp("snap") / "ix")
    build_snapshot_index(corpus, path)
    short = _df(spark, [(13, "hi"), (14, "yo")]).repartition(1)
    surv = dedup_against_snapshot_index(short, path)
    assert _ids(surv) == [14]
    bands_before = spark.read.parquet(path + "/bands").count()
    assert append_to_snapshot_index(surv, path)["rows"] == 4 + 1
    assert spark.read.parquet(path + "/bands").count() == bands_before


def test_unstamped_index_is_refused(spark, corpus, batch, tmp_path_factory):
    """An index whose manifest lacks the band-format stamp (how one built
    with the former JVM band keys looks) would join nothing against new
    batch bands: every reader refuses it and names the rebuild."""
    path = str(tmp_path_factory.mktemp("snap") / "ix")
    mf = build_snapshot_index(corpus, path)
    assert mf["format_version"] == FORMAT_VERSION
    assert load_manifest(path)["format_version"] == FORMAT_VERSION
    del mf["format_version"]
    with open(os.path.join(path, "manifest.json"), "w") as fh:
        json.dump(mf, fh)
    for read in (
        lambda: load_manifest(path),
        lambda: dedup_against_snapshot_index(batch, path),
        lambda: append_to_snapshot_index(batch, path),
    ):
        with pytest.raises(ValueError, match="build_snapshot_index"):
            read()
