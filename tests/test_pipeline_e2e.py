"""End-to-end entity-resolution pipeline tests (north-rule acceptance):
blocking → exact scoring → clustering reaches pairwise F1 ≥ 0.99 on labeled
candidate pairs, is resumable from checkpoint, and preserves the sha256
content invariant."""

import json
import shutil

import pytest

from pyspark.sql import functions as F

from polyfuzz_spark.metrics import pairwise_f1
from polyfuzz_spark.plans.pipeline import ERConfig, ERPipeline
from polyfuzz_spark.sources.corpus import (
    assert_sha256_invariant,
    generate_corpus,
)

from .test_minhash import _stages_run

CFG = ERConfig(min_similarity=0.6, link_min_similarity=0.6)


def test_corpus_is_deterministic(spark):
    a = generate_corpus(spark, n_entities=50, seed=42, n_partitions=2)
    b = generate_corpus(spark, n_entities=50, seed=42, n_partitions=7)
    pa = a.orderBy("doc_id").toPandas()
    pb = b.orderBy("doc_id").toPandas()
    assert pa.content_sha256.tolist() == pb.content_sha256.tolist()
    assert assert_sha256_invariant(a) == 0
    assert pa.entity_id.nunique() == 50


def test_pipeline_f1_and_resume(spark, tmp_path):
    run_dir = str(tmp_path / "er")
    corpus = generate_corpus(spark, n_entities=150, seed=42)
    pipe = ERPipeline(spark, run_dir, CFG)
    summary = pipe.run(corpus)
    assert all(m["complete"] for m in summary.values())

    labels = corpus.select("doc_id", "entity_id")
    res = pairwise_f1(pipe.read("candidates"), labels, pipe.read("clusters"))
    assert res["f1"] >= 0.99, res
    assert res["precision"] >= 0.99, res

    # survivors = ingest minus non-representative cluster members, with
    # the original columns (content_sha256 lineage survives the drop)
    surv = pipe.read("survivors")
    n_ingest = pipe.read("ingest").count()
    assert surv.count() == n_ingest - summary["survivors"]["rows_dropped"]
    non_rep = pipe.read("clusters").where(
        F.col("doc_id") != F.col("rep_doc_id")
    ).select("doc_id")
    assert surv.join(non_rep, "doc_id").count() == 0
    assert "content_sha256" in surv.columns

    # resume: wipe the last two stages, rerun without the corpus — earlier
    # checkpoints must carry it; output must be identical
    before = sorted(
        (r.doc_id, r.cluster_id) for r in pipe.read("clusters").collect()
    )
    for stage in ("matches", "clusters"):
        shutil.rmtree(f"{run_dir}/{stage}")
        (pipe._manifest(stage)).unlink()
    summary2 = ERPipeline(spark, run_dir, CFG).run(corpus=None)
    assert all(m["complete"] for m in summary2.values())
    after = sorted(
        (r.doc_id, r.cluster_id) for r in pipe.read("clusters").collect()
    )
    assert before == after

    # manifests carry lineage: row counts + score distribution + exact
    # per-partition (per output file) row counts summing to the total
    mf = json.loads((pipe._manifest("scores")).read_text())
    assert mf["rows"] > 0 and "score_distribution" in mf
    lineage = mf["partition_lineage"]
    assert sum(lineage.values()) == mf["rows"]
    assert all(p.endswith(".parquet") for p in lineage)

    # the candidates manifest audits its own blocking scheme: reduction
    # ratio recomputed exactly from the manifest counts
    cmf = json.loads((pipe._manifest("candidates")).read_text())
    total = n_ingest * (n_ingest - 1) / 2
    assert cmf["reduction_ratio"] == round(1 - cmf["rows"] / total, 6)
    assert cmf["reduction_ratio"] > 0.5  # blocking actually blocked
    # (the 375-doc test corpus is near-dup-dense by design; at real corpus
    # sizes RR sits near 1 — 0.999998 at the 1.25M-doc scaling legs)

    # and the audit backfills: a run_dir whose candidates manifest predates
    # the field (or crashed before the amend) gains it on the next run
    rr = cmf.pop("reduction_ratio")
    pipe._manifest("candidates").write_text(json.dumps(cmf))
    ERPipeline(spark, run_dir, CFG).run(corpus=None)
    cmf2 = json.loads((pipe._manifest("candidates")).read_text())
    assert cmf2["reduction_ratio"] == rr


def test_resume_refuses_ordered_pairs_run_dir(spark, tmp_path):
    """A run_dir checkpointed before the unordered-pairs convention (its
    candidates manifest lacks pairs_convention) must refuse to resume —
    re-emitting orientations over already-ordered pairs would double-count
    every match."""
    run_dir = str(tmp_path / "er")
    corpus = generate_corpus(spark, n_entities=60, seed=42)
    pipe = ERPipeline(spark, run_dir, CFG)
    pipe.run(corpus)

    mf_path = pipe._manifest("candidates")
    mf = json.loads(mf_path.read_text())
    del mf["pairs_convention"]
    # a true legacy manifest predates reduction_ratio too — the guard must
    # fire even when the same resume also wants the backfill (regression:
    # the guard once lived in the backfill's else-branch and was skipped
    # exactly for such run_dirs)
    mf.pop("reduction_ratio", None)
    mf_path.write_text(json.dumps(mf))
    for stage in ("scores", "matches", "clusters"):
        shutil.rmtree(f"{run_dir}/{stage}")
        pipe._manifest(stage).unlink()
    with pytest.raises(ValueError, match="ordered"):
        ERPipeline(spark, run_dir, CFG).run(corpus=None)
    # and the guard must NOT have backfilled first: refusal leaves the
    # legacy manifest untouched for forensics
    assert "reduction_ratio" not in json.loads(mf_path.read_text())

    # the convention-present path still resumes fine after restoring
    mf["pairs_convention"] = "unordered"
    mf_path.write_text(json.dumps(mf))
    summary = ERPipeline(spark, run_dir, CFG).run(corpus=None)
    assert all(m["complete"] for m in summary.values())


def test_pipeline_accepts_struct_ids(spark, tmp_path):
    """A corpus whose doc_id is the 128-bit content_id128 struct (the
    read_corpus derived-id shape) must run the full pipeline: the cluster
    stage joins the ingest mapping back instead of casting ids to long."""
    import pandas as pd

    from polyfuzz_spark.functions.ids import content_id128

    pdf = pd.DataFrame(
        {
            "repo": [f"r{i % 3}" for i in range(30)],
            "path": [f"f{i}.py" for i in range(30)],
            "commit": ["c1"] * 30,
            "lang": ["py"] * 30,
            "content": [f"def fn_{i % 10}(): return {i % 10}" for i in
                        range(30)],
        }
    )
    corpus = spark.createDataFrame(pdf).withColumn(
        "doc_id", content_id128("repo", "path", "commit")
    )
    pipe = ERPipeline(
        spark, str(tmp_path / "er"),
        ERConfig(min_similarity=0.8, link_min_similarity=0.8),
    )
    summary = pipe.run(corpus)
    assert all(m["complete"] for m in summary.values())
    clusters = pipe.read("clusters")
    # id fidelity survives the string-key round trip: every clustered
    # doc_id exists in ingest, rep ids are real doc ids
    f = dict(zip(clusters.schema.names, clusters.schema.fields))
    assert f["doc_id"].dataType.typeName() == "struct"
    assert f["rep_doc_id"].dataType.typeName() == "struct"
    ingest_ids = {
        tuple(r.doc_id) for r in pipe.read("ingest").select("doc_id").collect()
    }
    for r in clusters.collect():
        assert tuple(r.doc_id) in ingest_ids
        assert tuple(r.rep_doc_id) in ingest_ids
    # 10 distinct contents → identical-content groups collapse to 10
    assert pipe.read("survivors").count() == 10


def test_sink_selection_parquet_vs_iceberg(spark, tmp_path):
    """The stage sink is one switch: no prefix → parquet under run_dir;
    a catalog prefix → DataFrameWriterV2 writeTo(createOrReplace) + read
    via spark.read.table (the Iceberg deployment shape — jars absent in
    the sandbox, so the writer call is captured with a stub)."""
    pq = ERPipeline(spark, str(tmp_path / "a"), ERConfig())
    assert pq.sink_kind() == "parquet"

    cfg = ERConfig(iceberg_table_prefix="cat.db.er_run1")
    ice = ERPipeline(spark, str(tmp_path / "b"), cfg)
    assert ice.sink_kind() == "iceberg"
    assert ice._table("scores") == "cat.db.er_run1_scores"

    calls = {}

    class _W:
        def __init__(self, table):
            self.table = table

        def createOrReplace(self):
            calls["table"] = self.table

    class _DF:
        def writeTo(self, table):
            return _W(table)

    ice._write_stage("matches", _DF())
    assert calls == {"table": "cat.db.er_run1_matches"}


def test_blocking_recall_on_planted_dups(spark):
    """Every same-entity pair must share ≥1 LSH band (candidate recall) on
    the planted-duplicate corpus."""
    import pyspark.sql.functions as F

    from polyfuzz_spark.operators.blocking import minhash_candidates

    corpus = generate_corpus(spark, n_entities=80, seed=7)
    docs = corpus.select("doc_id", F.col("content").alias("key"))
    cands = minhash_candidates(docs).where(F.col("from_id") < F.col("to_id"))
    lab = corpus.select("doc_id", "entity_id")
    truth = (
        lab.alias("a")
        .join(lab.alias("b"), F.col("a.entity_id") == F.col("b.entity_id"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("from_id"), F.col("b.doc_id").alias("to_id")
        )
    )
    missed = truth.join(cands, ["from_id", "to_id"], "left_anti").count()
    assert missed == 0


def test_mapside_blocking_recall_matches_jvm_path(spark):
    """The map-side band keys fed straight to the banded join (the ER
    pipeline's path) must also reach full candidate recall on planted
    duplicates, with ≥2 shared bands."""
    import pyspark.sql.functions as F

    from polyfuzz_spark.operators.mapside import (
        candidates_from_bands,
        minhash_bands_mapside,
    )

    corpus = generate_corpus(spark, n_entities=80, seed=7)
    docs = corpus.select("doc_id", F.col("content").alias("key"))
    bands = minhash_bands_mapside(docs)
    cands = candidates_from_bands(bands, None, min_shared_bands=2).where(
        F.col("from_id") < F.col("to_id")
    )
    lab = corpus.select("doc_id", "entity_id")
    truth = (
        lab.alias("a")
        .join(lab.alias("b"), F.col("a.entity_id") == F.col("b.entity_id"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("from_id"), F.col("b.doc_id").alias("to_id")
        )
    )
    missed = truth.join(cands, ["from_id", "to_id"], "left_anti").count()
    assert missed == 0


def test_batched_minhash_bit_identical_to_perdoc():
    """The whole-batch reduceat MinHash kernel must reproduce the per-doc
    path's signatures EXACTLY (same hash family, same gram packing) —
    including empty docs, all-space docs, unicode stripped by cleaning,
    and duplicate grams (multiset min == set min)."""
    import numpy as np

    from polyfuzz_spark.functions.pygrams import doc_grams_py
    from polyfuzz_spark.operators.mapside import (
        _minhash_sigs_batched,
        _pack_grams_u64,
    )
    from polyfuzz_spark.operators.tfidf import TfidfConfig

    rng = np.random.default_rng(0)
    words = ["apple", "apples", "Appl!", "fruit-db", "ümlaut", "a", ""]
    keys = []
    for i in range(200):
        k = " ".join(rng.choice(words, size=rng.integers(0, 6)))
        keys.append(k if i % 7 else None)
    keys += ["", "   ", "!!", "ab", "aaaaaa", "x y z"]

    for cfg in (TfidfConfig(), TfidfConfig(n_gram_range=(2, 4)),
                TfidfConfig(remove_space_ngrams=False)):
        num_hashes = 16
        r = np.random.default_rng(42)
        A = (r.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
             << np.uint64(1)) | np.uint64(1)
        B = r.integers(0, 2**63, size=num_hashes, dtype=np.uint64)

        idx, sigs = _minhash_sigs_batched(keys, cfg, A, B)

        exp_idx, exp_sigs = [], []
        for i, k in enumerate(keys):
            g = _pack_grams_u64(list(set(doc_grams_py(k or "", cfg))))
            if not len(g):
                continue
            with np.errstate(over="ignore"):
                exp_sigs.append(
                    (g[:, None] * A[None, :] + B[None, :]).min(axis=0)
                )
            exp_idx.append(i)
        assert idx.tolist() == exp_idx
        assert np.array_equal(sigs, np.asarray(exp_sigs))


def test_batched_fit_vectorize_bit_identical(spark):
    """Whole-batch fit/vectorize kernels must reproduce the per-doc dict
    algorithm bit-for-bit: same IDF table, same tids, same float64 weights
    (repeated-add tf accumulation and per-doc w@w norms preserved)."""
    import numpy as np
    from pyspark.sql import functions as F

    from polyfuzz_spark.functions.pygrams import doc_grams_py
    from polyfuzz_spark.operators.mapside import (
        fit_idf_mapside,
        vectorize_packed_mapside,
    )
    from polyfuzz_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(spark, n_entities=60, seed=3)
    docs = corpus.select("doc_id", F.col("content").alias("key"))
    model = fit_idf_mapside(docs, "key")
    cfg = model.config

    keys = {r["doc_id"]: r["key"] for r in docs.collect()}

    # expected IDF: dict-based df counts over distinct grams per doc
    n_docs = len(keys)
    df_counts: dict[str, int] = {}
    for k in keys.values():
        for g in set(doc_grams_py(k or "", cfg)):
            df_counts[g] = df_counts.get(g, 0) + 1
    # df counts are integers — exact; IDF itself is computed JVM-side from
    # them (same expression either kernel), so vocab identity is via df
    got_idf = {r["term"]: r["idf"] for r in model.idf.collect()}
    assert set(got_idf) == set(df_counts)
    exp_df = {
        t: round((1.0 + n_docs) / np.exp(v - 1.0) - 1.0)
        for t, v in got_idf.items()
    }
    assert exp_df == df_counts

    # expected packed vectors: the original per-doc dict accumulation,
    # seeded with the model's own IDF values
    vocab = {t: (i, got_idf[t]) for i, t in enumerate(sorted(got_idf))}
    vocab_idf = {i: idf for (i, idf) in vocab.values()}
    packed = {
        r["doc_id"]: (r["t"], r["w"])
        for r in vectorize_packed_mapside(model, docs, "key").collect()
    }
    n_checked = 0
    for did, k in keys.items():
        counts: dict[int, int] = {}
        for g in doc_grams_py(k or "", cfg):
            hit = vocab.get(g)
            if hit is not None:
                counts[hit[0]] = counts.get(hit[0], 0) + 1
        if not counts:
            assert did not in packed
            continue
        tids = np.fromiter(counts.keys(), dtype=np.int64)
        wts = np.fromiter(counts.values(), dtype=np.float64) * np.array(
            [vocab_idf[t] for t in counts]
        )
        order = np.argsort(tids)
        tids, wts = tids[order], wts[order]
        wts /= np.sqrt(wts @ wts)
        got_t, got_w = packed[did]
        assert list(got_t) == tids.tolist()
        assert got_w == wts.tolist()  # exact float64 equality
        n_checked += 1
    assert n_checked > 50


def test_cache_blocked_vectorizer_bit_identical(spark, monkeypatch):
    """Intra-kernel cache blocking (VECTORIZER_SLICE_DOCS) must be
    invisible in the output: per-doc computations are independent, so a
    tiny slice (forcing many slices per Arrow batch) reproduces the
    unsliced packed vectors bit-for-bit, in doc_id coverage and float64
    weights."""
    from pyspark.sql import functions as F

    from polyfuzz_spark.operators import mapside
    from polyfuzz_spark.operators.mapside import (
        fit_idf_mapside,
        vectorize_packed_mapside,
    )
    from polyfuzz_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(spark, n_entities=60, seed=5)
    docs = corpus.select("doc_id", F.col("content").alias("key"))
    model = fit_idf_mapside(docs, "key")

    def canon():
        return sorted(
            (r["doc_id"], tuple(r["t"]), tuple(r["w"]))
            for r in vectorize_packed_mapside(model, docs, "key").collect()
        )

    monkeypatch.setattr(mapside, "VECTORIZER_SLICE_DOCS", None)
    base = canon()
    assert len(base) > 50
    monkeypatch.setattr(mapside, "VECTORIZER_SLICE_DOCS", 3)
    assert canon() == base


def test_cache_blocked_fit_and_minhash_bit_identical(spark, monkeypatch):
    """FIT_SLICE_DOCS / MINHASH_SLICE_DOCS must be invisible: per-slice
    df partials re-merge to the same integer counts (hence identical IDF
    values), and per-slice MinHash signatures concatenate to identical
    band keys."""
    from pyspark.sql import functions as F

    from polyfuzz_spark.operators import mapside
    from polyfuzz_spark.operators.mapside import (
        fit_idf_mapside,
        minhash_bands_mapside,
    )
    from polyfuzz_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(spark, n_entities=60, seed=7)
    docs = corpus.select("doc_id", F.col("content").alias("key"))

    def fit_canon():
        return sorted(
            (r["term"], r["idf"])
            for r in fit_idf_mapside(docs, "key").idf.collect()
        )

    def mh_canon():
        return sorted(
            (r["doc_id"], r["band"], r["band_key"])
            for r in minhash_bands_mapside(docs).collect()
        )

    monkeypatch.setattr(mapside, "FIT_SLICE_DOCS", None)
    monkeypatch.setattr(mapside, "MINHASH_SLICE_DOCS", None)
    fit_base, mh_base = fit_canon(), mh_canon()
    assert len(fit_base) > 20 and len(mh_base) > 100
    monkeypatch.setattr(mapside, "FIT_SLICE_DOCS", 3)
    monkeypatch.setattr(mapside, "MINHASH_SLICE_DOCS", 3)
    assert fit_canon() == fit_base
    assert mh_canon() == mh_base


def test_crash_after_scores_resumes_hash_equal(spark, tmp_path, monkeypatch):
    """Crash-mid-run resume contract as a fast fixture (VERDICT r02 item
    7): kill the run AFTER the scores checkpoint lands (mid-matches),
    re-launch with the same run_dir, and require (a) ingest + candidates +
    scores all manifest-SKIPPED (written_at unchanged — ≥2 stages, here 3),
    (b) the final survivors content-hash-equal to an uninterrupted clean
    run."""
    import polyfuzz_spark.plans.pipeline as P

    corpus = generate_corpus(spark, n_entities=40, seed=7)

    # clean reference run
    clean = ERPipeline(spark, str(tmp_path / "clean"), CFG)
    clean.run(corpus)

    def _content_hash(pipe):
        return (
            pipe.read("survivors")
            .agg(F.sha2(F.concat_ws("", F.sort_array(
                F.collect_list("content_sha256"))), 256))
            .collect()[0][0]
        )

    want = _content_hash(clean)

    # interrupted run: both_orientations fires at the START of the matches
    # stage, i.e. right after the scores checkpoint — the kill point
    run_dir = str(tmp_path / "crash")
    real = P.both_orientations

    def bomb(*a, **kw):
        raise RuntimeError("simulated executor loss after scoring")

    monkeypatch.setattr(P, "both_orientations", bomb)
    with pytest.raises(RuntimeError, match="simulated"):
        ERPipeline(spark, run_dir, CFG).run(corpus)
    monkeypatch.setattr(P, "both_orientations", real)

    crashed = ERPipeline(spark, run_dir, CFG)
    assert crashed.is_complete("scores")
    assert not crashed.is_complete("matches")
    stamps = {
        s: json.loads(crashed._manifest(s).read_text())["written_at"]
        for s in ("ingest", "candidates", "scores")
    }

    # re-launch: no corpus supplied — completed checkpoints must carry it
    summary = ERPipeline(spark, run_dir, CFG).run(corpus=None)
    assert all(m["complete"] for m in summary.values())
    for s, t in stamps.items():
        assert summary[s]["written_at"] == t, f"stage {s} was re-run"
    assert _content_hash(crashed) == want


def test_pipeline_salted_hot_buckets_recover_dropped_recall(spark, tmp_path):
    """ERConfig(hot_bucket='salt') must recover the pairs a tight drop cap
    loses: same corpus, same cap, salted F1 >= dropped F1 and >= 0.99."""
    corpus = generate_corpus(spark, n_entities=80, seed=11)
    labels = corpus.select("doc_id", "entity_id")

    def f1(run_dir, hot_bucket):
        cfg = ERConfig(
            min_similarity=0.6, link_min_similarity=0.6,
            max_bucket_size=4, hot_bucket=hot_bucket,
        )
        pipe = ERPipeline(spark, str(tmp_path / run_dir), cfg)
        pipe.run(corpus)
        return pairwise_f1(
            pipe.read("candidates"), labels, pipe.read("clusters")
        )["f1"]

    salted = f1("salt", "salt")
    dropped = f1("drop", "drop")
    assert salted >= 0.99, salted
    assert salted >= dropped, (salted, dropped)


def test_ingest_sha_violation_raises_and_stays_incomplete(spark, tmp_path):
    """The sha256 invariant now rides the ingest WRITE (observe metric):
    a corrupted row must still raise, and the stage must stay incomplete
    so a resume re-runs it (the manifest is removed, not left claiming
    completion over bad data)."""
    clean = generate_corpus(spark, n_entities=10, seed=1)
    victim = clean.agg(F.min("doc_id")).first()[0]
    corpus = clean.withColumn(
        "content_sha256",
        F.when(F.col("doc_id") == victim, F.lit("deadbeef")).otherwise(
            F.col("content_sha256")
        ),
    )
    pipe = ERPipeline(spark, str(tmp_path / "er_bad"), CFG)
    with pytest.raises(ValueError, match="sha256 invariant violated on 1"):
        pipe.run(corpus)
    assert not pipe.is_complete("ingest")
    # a clean corpus on the same run_dir recovers (re-runs ingest)
    good = generate_corpus(spark, n_entities=10, seed=1)
    summary = pipe.run(good)
    assert summary["ingest"]["sha256_violations"] == 0
    assert all(m["complete"] for m in summary.values())


def test_pipeline_golden_records_stage(spark, tmp_path):
    """Optional survivorship stage: one golden record per cluster
    (singletons included), sha provenance checkable against ingest."""
    import hashlib

    run_dir = str(tmp_path / "er")
    corpus = generate_corpus(spark, n_entities=60, seed=42)
    cfg = ERConfig(
        min_similarity=0.6, link_min_similarity=0.6,
        golden_records=True, golden_modal_cols=("lang",),
    )
    pipe = ERPipeline(spark, run_dir, cfg)
    summary = pipe.run(corpus)
    assert summary["golden"]["complete"]

    golden = pipe.read("golden")
    ingest = pipe.read("ingest")
    clusters = pipe.read("clusters")
    # one row per cluster rep + one per unclustered singleton
    reps = ingest.select("doc_id").join(
        clusters.select("doc_id", "rep_doc_id"), "doc_id", "left"
    ).select(F.coalesce("rep_doc_id", "doc_id").alias("rep")).distinct()
    assert golden.count() == reps.count()
    # provenance: every golden_sha is the sha256 of its longest member's
    # content as stored in ingest
    joined = golden.join(
        ingest.select(
            F.col("doc_id").alias("longest_doc_id"),
            F.sha2("content", 256).alias("expect_sha"),
        ),
        "longest_doc_id",
    )
    assert joined.where(
        F.col("golden_sha") != F.col("expect_sha")
    ).count() == 0

    # resume skips the completed stage and keeps the table identical
    before = sorted(map(tuple, golden.collect()))
    summary2 = ERPipeline(spark, run_dir, cfg).run(corpus=None)
    assert summary2["golden"]["complete"]
    assert sorted(map(tuple, pipe.read("golden").collect())) == before


# executed stages of one ERPipeline.run on generate_corpus(60, seed=42)
# with the distributed CC tier forced, as measured: each checkpoint is one
# write job, and each CC round one materialization
PIPELINE_STAGES = 31


@pytest.fixture(scope="module")
def smoke_run(spark, tmp_path_factory):
    """One ER pass on the smoke corpus with the distributed CC tier
    forced, run under its own job group: (plan, summary, stages run)."""
    from polyfuzz_spark.operators import linkage

    corpus = generate_corpus(spark, n_entities=60, seed=42)
    corpus = corpus.localCheckpoint(eager=True)
    pipe = ERPipeline(spark, str(tmp_path_factory.mktemp("er_smoke")), CFG)
    sc = spark.sparkContext
    saved = linkage.SMALL_GRAPH_MAX_EDGES
    linkage.SMALL_GRAPH_MAX_EDGES = 0
    group = "er-pass-stage-budget"
    sc.setJobGroup(group, "ERPipeline.run stage budget")
    try:
        summary = pipe.run(corpus)
    finally:
        sc.setJobGroup("after-er-pass-stage-budget", "")
        linkage.SMALL_GRAPH_MAX_EDGES = saved
    return pipe, summary, _stages_run(sc, group)


def test_er_pass_stage_budget(smoke_run):
    pipe, summary, stages = smoke_run
    assert all(m["complete"] for m in summary.values())
    assert summary["clusters"]["rows"] > 0
    assert stages <= PIPELINE_STAGES, stages


def test_footer_lineage_matches_file_count_query(spark, smoke_run):
    """Per-file row counts read from the parquet footers equal the
    groupBy(input_file_name()) counts over the same written stage."""
    pipe, summary, _ = smoke_run
    for stage in pipe.STAGES:
        back = spark.read.parquet(str(pipe._path(stage)))
        queried = {
            r["f"].rsplit("/", 1)[-1]: r["count"]
            for r in back.groupBy(F.input_file_name().alias("f"))
            .count().collect()
        }
        assert summary[stage]["partition_lineage"] == queried, stage
        assert summary[stage]["rows"] == sum(queried.values()), stage


def test_read_back_schema_equals_inferred(spark, smoke_run):
    """A stage read back with the schema the plan wrote has exactly the
    schema parquet inference gives, and the manifest records it."""
    pipe, summary, _ = smoke_run
    for stage in pipe.STAGES:
        inferred = spark.read.parquet(str(pipe._path(stage))).schema
        assert pipe.read(stage).schema == inferred, stage
        assert summary[stage]["schema"] == inferred.simpleString(), stage


def test_observed_distribution_matches_score_distribution(spark, smoke_run):
    """The distribution observed during the write equals
    ``score_distribution`` over the read-back: n, min and max exactly,
    mean to the last few ulps, percentiles within percentile_approx's
    rank error (1/accuracy, default accuracy 10000) of the exact ones."""
    import math

    from polyfuzz_spark.metrics import score_distribution

    pipe, summary, _ = smoke_run
    eps = 1 / 10_000
    for stage, col in (("scores", "sim"), ("matches", "similarity")):
        got = summary[stage]["score_distribution"]
        back = spark.read.parquet(str(pipe._path(stage)))
        want = back.agg(*score_distribution(col)).first().asDict()
        assert got["n"] == want["n"] == summary[stage]["rows"] > 0
        assert got["min"] == want["min"] and got["max"] == want["max"]
        assert math.isclose(got["mean"], want["mean"], rel_tol=1e-12)
        sims = sorted(r[0] for r in back.select(col).collect())
        n = len(sims)
        for p, v in zip((0.5, 0.9, 0.99), got["p50_p90_p99"]):
            lo = sims[max(0, math.ceil((p - eps) * n) - 1)]
            hi = sims[min(n - 1, math.ceil((p + eps) * n) - 1)]
            assert lo <= v <= hi, (stage, p, v, lo, hi)


def test_empty_stage_manifest(spark, tmp_path):
    """An empty stage manifests 0 rows, no file lineage and an empty
    distribution, as the per-file count query gave it."""
    pipe = ERPipeline(spark, str(tmp_path / "er"), CFG)
    empty = spark.createDataFrame([], "from_id long, to_id long, sim double")
    back = pipe._checkpoint("scores", empty, sim_col="sim")
    mf = json.loads(pipe._manifest("scores").read_text())
    assert mf["rows"] == 0 and back.count() == 0
    assert mf["partition_lineage"] == {}
    assert mf["score_distribution"] == {
        "n": 0, "mean": None, "min": None, "max": None, "p50_p90_p99": [],
    }
    assert mf["schema"] == "struct<from_id:bigint,to_id:bigint,sim:double>"
