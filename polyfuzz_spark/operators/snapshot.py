"""Persistent snapshot index for incremental cross-snapshot dedup.

``dedup_against`` (operators/dedup.py) documents its 100 TB operating
contract as "the corpus only contributes signatures + gram sets — persist
them once per snapshot and reuse". This module makes that literal: the
corpus side is reduced ONCE to three linear parquet artifacts, and every
subsequent ingest batch dedups against the artifacts without the corpus
content ever being read again:

    {path}/shas/      (content_sha string)          — exact-drop key set
    {path}/bands/     (doc_id, band, band_key)      — banded MinHash keys
    {path}/grams/     (doc_id, gram_key bigint)     — distinct hashed
                                                      n-gram sets (verify)
    {path}/manifest.json — format_version, shingle n, num_hashes,
                           bands, seed, safety knobs (size-resolved at
                           build), row counts

Index bytes are O(corpus tokens) with 8-byte gram keys (the string grams
are never stored — same xxhash64 asymmetry as ``decontam.gram_keys``; a
collision can only merge two grams, i.e. nudge a Jaccard estimate, in the
conservative drop-more direction with probability ≈ n_grams²/2⁶⁵).

``append_to_snapshot_index`` makes snapshots evolve: dedup batch T+1
against the index, append only the SURVIVORS' rows to the artifacts —
each snapshot costs one linear pass over the new data, never a corpus
re-read. The batch side recomputes its own shas/bands/gram keys with the
manifest's frozen knobs (num_hashes/bands/seed must match or band keys
are incomparable — the manifest is the contract).

Band keys come from ``mapside.minhash_bands_mapside``, the one MinHash
family. ``format_version`` stamps that band format: an index with another
or no stamp (an unstamped one holds the former JVM xxhash64 band keys)
would silently join nothing, so ``load_manifest`` refuses it.

Plan shape at query time: three equi-joins (sha semi-join; banded
candidate join via ``candidates_from_bands`` with the index bands as the
to-side; gram-key intersection counts on candidates only) — identical to
``dedup_against``'s large-vocab route, minus the corpus-side recompute.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import raw_shingles
from .mapside import candidates_from_bands, minhash_bands_mapside

_MANIFEST = "manifest.json"
# band format of the index artifacts; bump when band keys change
FORMAT_VERSION = 2


def _artifacts(path: str) -> dict[str, str]:
    return {
        "shas": os.path.join(path, "shas"),
        "bands": os.path.join(path, "bands"),
        "grams": os.path.join(path, "grams"),
    }


def _gram_keys(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram_key) — distinct xxhash64 char n-gram keys per doc."""
    from ..functions.ngrams import char_ngrams
    from ..partitioning import ensure_min_partitions

    grams = char_ngrams(F.col("key"), n, n, remove_space_ngrams=False)
    return ensure_min_partitions(docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(grams, lambda g: F.xxhash64(g))
            )
        ).alias("gram_key"),
    )


def _batch_views(
    docs: DataFrame, key_col: str, id_col: str, mf: dict
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(normalized docs, shas, bands, gram keys) for one side, under the
    manifest's frozen knobs."""
    d = docs.select(
        F.col(id_col).alias("doc_id"), F.col(key_col).alias("key")
    )
    shas = d.select("doc_id", F.sha2("key", 256).alias("content_sha"))
    bands = minhash_bands_mapside(
        d, "key", raw_shingles(mf["n"]), num_hashes=mf["num_hashes"],
        bands=mf["bands"], seed=mf["seed"],
    )
    return d, shas, bands, _gram_keys(d, mf["n"])


def build_snapshot_index(
    corpus: DataFrame,
    path: str,
    key_col: str = "key",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
    max_bucket_size=...,
    min_shared_bands: int | None = None,
    seed: int = 42,
) -> dict:
    """Reduce ``corpus`` to the reusable index artifacts at ``path``.
    Safety knobs left unset are size-resolved from the corpus row count
    (``adaptive.resolve_blocking_knobs`` — the measured-safe ER regime
    above 500k docs). Returns the manifest dict."""
    from .adaptive import _UNSET, resolve_blocking_knobs

    n_rows = corpus.count()
    knobs = resolve_blocking_knobs(
        n_rows,
        num_hashes=num_hashes,
        bands=bands,
        max_bucket_size=_UNSET if max_bucket_size is ... else max_bucket_size,
        min_shared_bands=min_shared_bands,
    )
    mf = {
        "format_version": FORMAT_VERSION,
        "n": int(n), "seed": int(seed), "rows": int(n_rows),
        "num_hashes": int(knobs["num_hashes"]),
        "bands": int(knobs["bands"]),
        "max_bucket_size": knobs["max_bucket_size"],
        "min_shared_bands": int(knobs["min_shared_bands"]),
    }
    _, shas, bands_df, grams = _batch_views(corpus, key_col, id_col, mf)
    art = _artifacts(path)
    shas.select("content_sha").distinct().write.mode("overwrite").parquet(
        art["shas"]
    )
    bands_df.write.mode("overwrite").parquet(art["bands"])
    grams.write.mode("overwrite").parquet(art["grams"])
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, _MANIFEST), "w") as fh:
        json.dump(mf, fh, indent=1)
    return mf


def load_manifest(path: str) -> dict:
    """The index manifest; raises ValueError on an index of another band
    format (its band keys cannot meet this library's)."""
    with open(os.path.join(path, _MANIFEST)) as fh:
        mf = json.load(fh)
    if mf.get("format_version") != FORMAT_VERSION:
        raise ValueError(
            f"snapshot index {path} has format_version "
            f"{mf.get('format_version')!r}, this library reads "
            f"{FORMAT_VERSION}: rebuild it with build_snapshot_index"
        )
    return mf


def dedup_against_snapshot_index(
    new_docs: DataFrame,
    path: str,
    key_col: str = "key",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """The new rows that survive against the indexed corpus — same
    semantics as ``dedup.dedup_against`` (exact sha drop, then banded
    MinHash candidates verified by exact Jaccard over the distinct gram
    sets), but the corpus side is READ, not recomputed. ``threshold`` is
    query-time; the blocking knobs are the manifest's (frozen at build).
    """
    spark: SparkSession = new_docs.sparkSession
    mf = load_manifest(path)
    art = _artifacts(path)
    ix_shas = spark.read.parquet(art["shas"])
    ix_bands = spark.read.parquet(art["bands"])
    ix_grams = spark.read.parquet(art["grams"])

    d, shas, b_bands, b_grams = _batch_views(new_docs, key_col, id_col, mf)
    exact_ids = (
        shas.join(ix_shas, "content_sha", "left_semi").select("doc_id")
        .localCheckpoint(eager=True)
    )
    surv = d.join(exact_ids, "doc_id", "left_anti")
    b_bands = b_bands.join(exact_ids, "doc_id", "left_anti")

    cands = candidates_from_bands(
        b_bands, ix_bands,
        max_bucket_size=mf["max_bucket_size"],
        min_shared_bands=mf["min_shared_bands"],
    )
    # the batch-side gram table reaches these joins through an explode
    # whose size estimate keeps the child's sizeInBytes (a ~grams-per-doc×
    # undercount) — merge-hint that lineage so the static planner can
    # never driver-broadcast it; the parquet-backed index side has
    # accurate stats and is left to the planner.
    sizes_b = b_grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("na")
    )
    sizes_ix = ix_grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nb")
    )
    inter = (
        cands.join(
            b_grams.select(F.col("doc_id").alias("from_id"), "gram_key")
            .hint("merge"),
            "from_id",
        )
        .join(
            ix_grams.select(
                F.col("doc_id").alias("to_id"), "gram_key"
            ),
            ["to_id", "gram_key"],
        )
        .groupBy("from_id", "to_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    near_ids = (
        inter.join(
            sizes_b.select(F.col("doc_id").alias("from_id"), "na")
            .hint("merge"),
            "from_id",
        )
        .join(
            sizes_ix.select(F.col("doc_id").alias("to_id"), "nb"), "to_id"
        )
        .where(jac >= F.lit(threshold))
        .select(F.col("from_id").alias("doc_id"))
        .distinct()
    )
    flagged = exact_ids.union(near_ids).distinct()
    return new_docs.join(
        flagged.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )


def append_to_snapshot_index(
    survivors: DataFrame,
    path: str,
    key_col: str = "key",
    id_col: str = "doc_id",
) -> dict:
    """Evolve the snapshot: append the (already-deduped) batch survivors'
    rows to each artifact under the manifest's frozen knobs. One linear
    pass over the new rows only. Returns the updated manifest.

    Caller contract: ``survivors`` must be the output of
    ``dedup_against_snapshot_index`` for THIS index (ids must not collide
    with indexed ids — at scale use globally unique doc ids)."""
    mf = load_manifest(path)
    art = _artifacts(path)
    _, shas, bands_df, grams = _batch_views(survivors, key_col, id_col, mf)
    shas.select("content_sha").distinct().write.mode("append").parquet(
        art["shas"]
    )
    bands_df.write.mode("append").parquet(art["bands"])
    grams.write.mode("append").parquet(art["grams"])
    mf["rows"] = int(mf["rows"]) + survivors.count()
    with open(os.path.join(path, _MANIFEST), "w") as fh:
        json.dump(mf, fh, indent=1)
    return mf


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """What changed between two corpus snapshots: (id, status) with status
    ∈ {'added', 'removed', 'changed'} — unchanged rows are omitted (at
    catalog scale they are ~all rows; emitting them would make the diff
    O(corpus) instead of O(delta)). The incremental-ingest planner's
    input: only added+changed rows need scrubbing/dedup/indexing, and
    removed ids need tombstoning downstream.

    Content equality is sha256 on ``content_col`` (the same per-row
    invariant the pipelines checkpoint), so the compare never ships
    content across the shuffle — one full-outer equi-join on the id
    carrying a 64-hex digest per side. Bucketed-by-id snapshot layouts
    serve the join shuffle-free. Row presence is tracked by explicit
    markers, not digest nullability, so a row whose content IS NULL still
    diffs correctly (sha2(NULL) is NULL — conflating it with row absence
    would report a deleted null-content row as 'added').
    """
    digest = lambda c: F.coalesce(
        F.sha2(F.col(c), 256), F.lit("<null-content>")
    )
    o = old.select(
        F.col(id_col), F.lit(True).alias("_op"),
        digest(content_col).alias("_osha"),
    )
    n = new.select(
        F.col(id_col), F.lit(True).alias("_np"),
        digest(content_col).alias("_nsha"),
    )
    joined = o.join(n, id_col, "full_outer")
    return joined.select(
        id_col,
        F.when(F.col("_op").isNull(), F.lit("added"))
        .when(F.col("_np").isNull(), F.lit("removed"))
        .when(F.col("_osha") != F.col("_nsha"), F.lit("changed"))
        .alias("status"),
    ).where(F.col("status").isNotNull())
