"""Streaming surface: the incremental matcher must produce identical rows on
a batch DataFrame, a streaming DataFrame (file source, availableNow), and
the packed dense transform scorer — Spark's unified batch/streaming
contract plus fit/transform parity (reference polyfuzz.py:209-242
semantics)."""

import pandas as pd
import pytest

from polyfuzz_spark.api import lists_to_df
from polyfuzz_spark.operators.adaptive import tfidf_transform_topk
from polyfuzz_spark.operators.tfidf import fit_tfidf, vectorize
from polyfuzz_spark.streaming.incremental import (
    build_index,
    incremental_match,
    stream_match_parquet,
)

NEW_DOCS = ["apple", "appl", "aple pie", "mouse", "zzz qqq", "similarity"]
CORPUS = ["apple", "apples", "mouse", "house", "recall", "similar"]


@pytest.fixture(scope="module")
def fitted(spark, request):
    to_df = lists_to_df(spark, CORPUS)
    model = fit_tfidf(to_df, "key")
    to_vec = vectorize(model, to_df, "key")
    return model, to_vec, build_index(model, to_vec)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.sort_values(["from_id", "rnk"])
        .reset_index(drop=True)
        .astype({"from_id": "int64", "to_id": "int64", "sim_milli": "int64",
                 "rnk": "int64"})
    )


def test_batch_matches_dense_scorer(spark, fitted):
    model, to_vec, index = fitted
    from_df = lists_to_df(spark, NEW_DOCS)
    got = incremental_match(from_df, index, top_n=2, min_similarity=0.2)
    # reference path: the packed dense transform kernel with the FITTED
    # model (transform semantics), a separate implementation
    exp = tfidf_transform_topk(
        model, from_df, lists_to_df(spark, CORPUS), top_n=2,
        min_similarity=0.2,
    )
    g, e = _canon(got.toPandas()), _canon(exp.toPandas())
    pd.testing.assert_frame_equal(g, e)
    # "zzz qqq" shares no trigram with the corpus → no rows for it
    assert 4 not in set(g.from_id)


def test_stream_equals_batch(spark, fitted, tmp_path):
    _, _, index = fitted
    from_df = lists_to_df(spark, NEW_DOCS)
    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    # two separate files → two micro-batches
    from_df.where("doc_id < 3").write.parquet(in_dir)
    from_df.where("doc_id >= 3").write.mode("append").parquet(in_dir)

    q = stream_match_parquet(
        spark, in_dir, "doc_id long, key string", index,
        out_dir, ck_dir, top_n=2, min_similarity=0.2,
    )
    q.awaitTermination(120)

    got = _canon(spark.read.parquet(out_dir).toPandas())
    exp = _canon(
        incremental_match(from_df, index, top_n=2, min_similarity=0.2)
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, exp)


def test_windowed_rollup_stream_matches_batch_to_watermark(spark, tmp_path):
    """Watermarked tumbling-window rollup: the streamed append-mode output
    must equal the batch twin restricted to windows CLOSED by the final
    watermark (late-data semantics — trailing windows stay in state)."""
    import pyspark.sql.functions as F

    from polyfuzz_spark.streaming.windows import (
        hourly_rollup,
        stream_hourly_rollup_parquet,
    )

    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("ts", "event_type", "value")
    )
    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    events.write.parquet(in_dir)

    q = stream_hourly_rollup_parquet(
        spark, in_dir, "ts timestamp, event_type string, value double",
        out_dir, ck_dir, watermark="2 hours",
    )
    q.awaitTermination(120)

    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    cutoff = pd.Timestamp(max_ts) - pd.Timedelta(hours=2)
    batch = hourly_rollup(events).toPandas()
    closed = (
        batch[batch.window_end < cutoff]
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    assert len(got) > 0
    # every emitted window is closed and bit-identical to the batch twin
    merged = got.merge(
        batch,
        on=["window_start", "window_end", "event_type"],
        suffixes=("", "_b"),
    )
    assert len(merged) == len(got)
    assert (merged.n_events == merged.n_events_b).all()
    assert (merged.sum_cents == merged.sum_cents_b).all()
    # every window strictly before the final watermark was emitted, and
    # nothing at/after max_ts's open window leaked out
    assert set(map(tuple, got[["window_start", "event_type"]].values)) >= set(
        map(tuple, closed[["window_start", "event_type"]].values)
    )
    assert got.window_end.max() <= pd.Timestamp(max_ts).ceil("h")


def test_stateful_sessionization_stream_vs_batch(spark, tmp_path):
    """applyInPandasWithState gap-sessionizer: every emitted session must be
    bit-identical to the batch twin, sessions spanning micro-batch
    boundaries must merge through state, and every session closed by a
    successor event must be emitted by drain end."""
    import pyspark.sql.functions as F

    from polyfuzz_spark.streaming.sessions import (
        sessionize_batch,
        stream_sessions_parquet,
    )

    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("ts", "user_id", "event_id")
    )
    median = events.approxQuantile("event_id", [0.5], 0.0)[0]
    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    # time-ordered split → two files → two micro-batches (watermark
    # advances between them, so open state carries across batches)
    mid_ts = events.agg(
        F.expr("percentile(unix_timestamp(ts), 0.5)")
    ).collect()[0][0]
    events.where(F.unix_timestamp("ts") <= mid_ts).write.parquet(in_dir)
    events.where(F.unix_timestamp("ts") > mid_ts).write.mode(
        "append"
    ).parquet(in_dir)

    q = stream_sessions_parquet(
        spark, in_dir, "ts timestamp, user_id long, event_id long",
        out_dir, ck_dir, gap_s=1800, max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir).toPandas()
    batch = sessionize_batch(events).toPandas()
    assert len(got) > 0
    # exactness: every emitted session exists in the batch twin verbatim
    cols = ["user_id", "start_sec", "end_sec", "n_events"]
    merged = got.merge(batch, on=cols)
    assert len(merged) == len(got)
    assert not got.duplicated(cols).any()
    # completeness: sessions closed by a successor event (all but each
    # user's final session) must all have been emitted
    last_start = batch.groupby("user_id")["start_sec"].transform("max")
    non_final = batch[batch["start_sec"] < last_start]
    if len(non_final):
        nf_merged = non_final.merge(got, on=cols)
        assert len(nf_merged) == len(non_final)


def test_stateful_sessionization_out_of_order_late_events(spark, tmp_path):
    """A late-but-within-watermark event arriving in a later micro-batch
    must MERGE into the open session (inside its span or within the gap
    before its start), never regress `last`/split the session — the batch
    twin on the same data is the contract."""
    import datetime as dt

    from polyfuzz_spark.streaming.sessions import (
        sessionize_batch,
        stream_sessions_parquet,
    )

    base = dt.datetime(2025, 1, 1, 12, 0, 0)

    def ev(eid, sec):
        return (base + dt.timedelta(seconds=sec), 1, eid)

    schema = "ts timestamp, user_id long, event_id long"
    # batch 1: secs 0 and 1000 (gap 1000 > 600 → closes [0,0], opens
    # [1000,1000]); batch 2: late 900 (extends the open session backward)
    # then 1550 (within gap of 1000 → same session)
    f1 = spark.createDataFrame([ev(1, 0), ev(2, 1000)], schema)
    f2 = spark.createDataFrame([ev(3, 900), ev(4, 1550)], schema)
    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    f1.coalesce(1).write.parquet(in_dir)
    f2.coalesce(1).write.mode("append").parquet(in_dir)

    q = stream_sessions_parquet(
        spark, in_dir, schema, out_dir, ck_dir,
        gap_s=600, max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).toPandas()
    batch = sessionize_batch(
        spark.createDataFrame([ev(1, 0), ev(2, 1000), ev(3, 900),
                               ev(4, 1550)], schema),
        gap_s=600,
    ).toPandas()
    cols = ["user_id", "start_sec", "end_sec", "n_events"]
    # everything emitted matches the batch twin verbatim; the singleton
    # [0,0] is closed by the later events, the merged [900,1550] session
    # (3 events incl. the out-of-order 900) stays open in state
    merged = got.merge(batch, on=cols)
    assert len(merged) == len(got) == 1
    assert got.iloc[0].n_events == 1 and got.iloc[0].end_sec == got.iloc[0].start_sec
    assert set(map(tuple, batch[cols].values)) >= set(map(tuple, got[cols].values))


def test_stream_resume_is_exactly_once(spark, fitted, tmp_path):
    """Re-running with the same checkpoint must not duplicate output rows."""
    _, _, index = fitted
    from_df = lists_to_df(spark, NEW_DOCS)
    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    from_df.write.parquet(in_dir)
    args = (spark, in_dir, "doc_id long, key string", index, out_dir, ck_dir)
    stream_match_parquet(*args, top_n=1).awaitTermination(120)
    n1 = spark.read.parquet(out_dir).count()
    # second run: checkpoint says everything is processed → no new rows
    stream_match_parquet(*args, top_n=1).awaitTermination(120)
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == n2 > 0


# ---------------------------------------------------------------------------
# Stateful streaming exact dedup (streaming/dedup.py)
# ---------------------------------------------------------------------------
def test_streaming_dedup_stream_vs_batch(spark, tmp_path):
    """First-seen row per distinct content must survive; duplicates inside
    a micro-batch AND across micro-batches must drop through state; the
    drained stream equals the batch twin under ordered ingest."""
    from polyfuzz_spark.streaming.dedup import (
        dedup_batch,
        stream_dedup_parquet,
    )

    schema = "doc_id long, text string"
    # batch 1: in-batch duplicate ("alpha" twice -> min doc_id 0 wins)
    f1 = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "alpha"), (3, "gamma")], schema
    )
    # batch 2: cross-batch duplicates of batch 1 plus one new content
    f2 = spark.createDataFrame(
        [(4, "beta"), (5, "delta"), (6, "gamma"), (7, "alpha")], schema
    )
    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    f1.coalesce(1).write.parquet(in_dir)
    f2.coalesce(1).write.mode("append").parquet(in_dir)

    q = stream_dedup_parquet(
        spark, in_dir, schema, out_dir, ck_dir, max_files_per_trigger=1
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).toPandas()
    batch = dedup_batch(
        spark.read.schema(schema).parquet(in_dir)
    ).toPandas()
    cols = ["sha", "doc_id", "text"]
    g = got[cols].sort_values("doc_id").reset_index(drop=True)
    b = batch[cols].sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(g, b)
    # the four distinct contents survive with their min doc_ids
    assert sorted(g.doc_id) == [0, 1, 3, 5]


def test_streaming_dedup_resume_exactly_once(spark, tmp_path):
    """Re-running with the same checkpoint must not re-emit survivors, and
    new files arriving after resume still dedup against the stored state."""
    from polyfuzz_spark.streaming.dedup import stream_dedup_parquet

    schema = "doc_id long, text string"
    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    spark.createDataFrame(
        [(0, "alpha"), (1, "beta")], schema
    ).coalesce(1).write.parquet(in_dir)
    args = (spark, in_dir, schema, out_dir, ck_dir)
    stream_dedup_parquet(*args).awaitTermination(120)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 2
    # resume with no new input: nothing new
    stream_dedup_parquet(*args).awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 2
    # a later file: its duplicate drops via the RESTORED state, its new
    # content is admitted
    spark.createDataFrame(
        [(9, "alpha"), (10, "epsilon")], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    stream_dedup_parquet(*args).awaitTermination(120)
    final = spark.read.parquet(out_dir).toPandas()
    assert sorted(final.doc_id) == [0, 1, 10]


def test_build_index_refuses_over_budget_corpus(spark, fitted, monkeypatch):
    """The serving index is a broadcast: over the shared budget it must
    refuse BEFORE collecting (the blocked matcher path covers that scale),
    never OOM the driver."""
    from polyfuzz_spark.operators import dense_cosine
    from polyfuzz_spark.operators.tfidf import fit_tfidf, vectorize
    from polyfuzz_spark.streaming.incremental import build_index

    corpus = ["apple", "apples", "mouse"]
    to_df = lists_to_df(spark, corpus)
    model = fit_tfidf(to_df, "key")
    to_vec = vectorize(model, to_df, "key")
    monkeypatch.setattr(dense_cosine, "BROADCAST_MAX_DOCS", 0)
    with pytest.raises(ValueError, match="broadcast budget"):
        build_index(model, to_vec)


def test_admission_filter_batch_verdicts(spark, fitted):
    """One verdict per incoming doc; admitted == (best top-1 milli score
    from incremental_match < threshold); gram-less docs score 0."""
    from polyfuzz_spark.streaming.incremental import admission_filter

    _, _, index = fitted
    from_df = lists_to_df(spark, NEW_DOCS)
    got = admission_filter(from_df, index, threshold=0.5).toPandas()
    assert len(got) == len(NEW_DOCS)
    top1 = (
        incremental_match(from_df, index, top_n=1)
        .toPandas()
        .set_index("from_id")
        .sim_milli
    )
    for _, r in got.iterrows():
        want_best = int(top1.get(r.doc_id, 0))
        assert r.best_sim_milli == want_best, r.key
        assert r.admitted == (want_best < 500), r.key
    # "apple" is IN the fitted corpus -> sim 1000 -> rejected;
    # "zzz qqq" shares nothing -> score 0 -> admitted
    by_key = got.set_index("key")
    assert not by_key.loc["apple"].admitted
    assert by_key.loc["zzz qqq"].admitted
    assert by_key.loc["zzz qqq"].best_sim_milli == 0


def test_admission_filter_stream_equals_batch(spark, fitted, tmp_path):
    from polyfuzz_spark.streaming.incremental import admission_filter

    _, _, index = fitted
    from_df = lists_to_df(spark, NEW_DOCS)
    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    from_df.write.parquet(in_dir)
    stream = spark.readStream.schema("doc_id long, key string").parquet(in_dir)
    q = (
        admission_filter(stream, index, threshold=0.5)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cols = ["doc_id", "key", "best_sim_milli", "admitted"]
    s = spark.read.parquet(out_dir).toPandas()[cols].sort_values(
        "doc_id"
    ).reset_index(drop=True)
    b = admission_filter(from_df, index, threshold=0.5).toPandas()[
        cols
    ].sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(s, b)


def test_batched_vectorizer_equals_perdoc_fallback(spark, fitted):
    """The whole-batch serving vectorizer (VERDICT r02 item 2) must be
    row-identical to the per-doc fallback on BOTH serving kernels — same
    dispatch contract as mapside.vectorize_packed_mapside."""
    import dataclasses

    from polyfuzz_spark.streaming.incremental import admission_filter

    _, _, index = fitted
    assert index.vpack is not None, "batched precondition should hold here"
    fallback = dataclasses.replace(index, vpack=None)
    from_df = lists_to_df(spark, NEW_DOCS)
    a = _canon(
        incremental_match(from_df, index, top_n=2, min_similarity=0.2)
        .toPandas()
    )
    b = _canon(
        incremental_match(from_df, fallback, top_n=2, min_similarity=0.2)
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)
    av = admission_filter(from_df, index, threshold=0.5).toPandas()
    bv = admission_filter(from_df, fallback, threshold=0.5).toPandas()
    pd.testing.assert_frame_equal(
        av.sort_values("doc_id").reset_index(drop=True),
        bv.sort_values("doc_id").reset_index(drop=True),
    )


def test_admission_filter_empty_index_admits_everything(spark, fitted):
    """Zero corpus rows in the fitted index must score 0 / admit all
    (ADVICE r02: max over an empty axis used to raise mid-stream)."""
    import dataclasses

    import numpy as np

    from polyfuzz_spark.streaming.incremental import admission_filter

    _, _, index = fitted
    empty = dataclasses.replace(
        index,
        to_ids=np.empty(0, dtype=np.int64),
        to_mat=np.empty((0, len(index.idf))),
    )
    docs = lists_to_df(spark, NEW_DOCS)
    out = admission_filter(docs, empty, threshold=0.5).toPandas()
    assert len(out) == len(NEW_DOCS)
    assert out.admitted.all() and (out.best_sim_milli == 0).all()
    # the match kernel yields no rows against an empty index, not an error
    assert incremental_match(docs, empty).count() == 0


def test_curation_verdict_stream_equals_batch(spark, tmp_path):
    """The map-side curation verdict is stateless, so it runs unchanged as
    a streaming curation gate (per-micro-batch projection, no state, no
    watermark): file-source stream rows must verdict identically to the
    batch plan — including the top-bigram rule, which used to need a
    per-doc aggregation and now is a pure row expression."""
    from polyfuzz_spark.functions.curation import curation_verdict

    docs = spark.createDataFrame(
        [
            (1, "short doc"),
            (2, "spam " * 60),
            (3, ("many distinct alpha words " + " ".join(
                f"tok{i} body{i}" for i in range(30)))),
            (4, "ab ab ab ab cd cd " * 10),
        ],
        "doc_id long, text string",
    )
    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    docs.write.parquet(in_dir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        in_dir
    )
    q = (
        curation_verdict(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    s = spark.read.parquet(out_dir).toPandas().sort_values(
        "doc_id"
    ).reset_index(drop=True)
    b = curation_verdict(docs).toPandas().sort_values(
        "doc_id"
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(s[sorted(s.columns)], b[sorted(b.columns)])


def test_code_verdict_stream_equals_batch(spark, tmp_path):
    """The code-quality verdict (functions/codestats.py) is a single
    map-side projection, so it runs unchanged as a streaming admission
    gate for a code-file feed: file-source stream rows must verdict
    identically to the batch plan, license guess included."""
    from polyfuzz_spark.functions.codestats import code_quality_verdict

    files = spark.createDataFrame(
        [
            (1, "# SPDX-License-Identifier: MIT\ndef f():\n    return 1"),
            (2, "// Auto-Generated by protoc. DO NOT EDIT.\nmsg Body {}"),
            (3, "z" * 1400),
            (4, "{};()[] " * 40),
            (5, "plain short file\nwith two lines"),
        ],
        "doc_id long, content string",
    )
    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    files.write.parquet(in_dir)
    stream = spark.readStream.schema("doc_id long, content string").parquet(
        in_dir
    )
    q = (
        code_quality_verdict(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    s = spark.read.parquet(out_dir).toPandas().sort_values(
        "doc_id"
    ).reset_index(drop=True)
    b = code_quality_verdict(files).toPandas().sort_values(
        "doc_id"
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(s[sorted(s.columns)], b[sorted(b.columns)])
    assert not b.loc[b.doc_id.isin([2, 3, 4]), "keep"].any()
    assert b.loc[b.doc_id == 1, "license"].iloc[0] == "mit"


def test_streaming_decontam_gate_matches_batch(spark, tmp_path):
    """foreachBatch decontamination gate: survivors across all micro-batches
    must equal the batch operator's survivors on the same corpus, and the
    planted benchmark leak must be gone."""
    from polyfuzz_spark.operators.decontam import decontaminate
    from polyfuzz_spark.streaming.decontam_gate import stream_decontaminate

    bench = spark.createDataFrame(
        [(100, "the seven seas rose to meet the sailing moon tonight")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            # leaks the benchmark 5-gram "seven seas rose to meet"
            (1, "we recall the seven seas rose to meet them all at dawn"),
            (2, "a perfectly clean training document with original words"),
            (3, "another clean one that shares nothing with the benchmark"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    # two parquet files -> two micro-batches at maxFilesPerTrigger=1
    incoming.where("doc_id <= 2").coalesce(1).write.parquet(in_dir)
    incoming.where("doc_id > 2").coalesce(1).write.mode("append").parquet(
        in_dir
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = stream_decontaminate(stream, bench, out_dir, ck_dir, n=5)
    q.awaitTermination(120)
    got = sorted(
        r.doc_id
        for r in spark.read.parquet(out_dir).select("doc_id").collect()
    )
    want = sorted(
        r.doc_id
        for r in decontaminate(
            bench, incoming, n=5, rolling=True
        ).select("doc_id").collect()
    )
    assert got == want
    assert 1 not in got and got == [2, 3, 4]


def test_streaming_lm_gate_matches_batch(spark, tmp_path):
    """foreachBatch LM quality gate: survivors across micro-batches equal
    the batch scorer's under the same absolute threshold, gibberish and
    zero-token docs drop, and the audit column rides along."""
    from polyfuzz_spark.functions.lm import bits_per_token, train_hashed_lm
    from polyfuzz_spark.streaming.lm_gate import stream_lm_gate

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat near the door") for i in range(20)],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (1, "the cat sat near the door"),      # reference-like: keep
            (2, "the mat near the cat"),           # reference-like: keep
            (3, "zqxv wkyj bnmp qrst uvwx"),       # gibberish: drop
            (4, "   "),                            # zero tokens: drop
        ],
        "doc_id long, text string",
    )
    nb, salt = 1 << 16, "gate"
    lm = train_hashed_lm(ref, "text", nb, salt)
    # total(~180) ≪ n_buckets(65536): B_tot = 16 bits, seen tokens cost
    # 16 − fl2(cnt+1) ≈ 11-12, unseen exactly 16 → cut between them
    thresh = 13_000

    in_dir, out_dir, ck_dir = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    incoming.where("doc_id <= 2").coalesce(1).write.parquet(in_dir)
    incoming.where("doc_id > 2").coalesce(1).write.mode("append").parquet(
        in_dir
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = stream_lm_gate(
        stream, lm, thresh, out_dir, ck_dir,
        n_buckets=nb, salt=salt,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    got = sorted(r.doc_id for r in out.select("doc_id").collect())
    want = sorted(
        r.doc_id
        for r in bits_per_token(incoming, lm, n_buckets=nb, salt=salt)
        .where(f"bits_milli <= {thresh}")
        .collect()
    )
    assert got == want == [1, 2]
    assert "bits_milli" in out.columns


def test_serving_rounds_an_exact_half_milli_up(spark):
    """An exact half-milli cosine (0.3125) quantizes half-up to 313 through
    both public serving calls, as Spark's floor(round(x, 3) * 1000 + 0.5)
    and the dense kernels do; half-to-even rounding would give 312 and
    admit the doc at threshold 0.313."""
    import dataclasses

    import numpy as np
    from pyspark.sql import functions as F

    from polyfuzz_spark.streaming.incremental import admission_filter

    # one fitted doc: its 4 trigrams all have idf 1.0, so the query
    # "abcdef" vectorizes to 0.5 on each; a corpus row of 0.625 on tid 0
    # ("abc") gives a cosine of exactly 0.5 * 0.625 = 0.3125
    fit_df = lists_to_df(spark, ["abcdef"])
    model = fit_tfidf(fit_df, "key")
    index = build_index(model, vectorize(model, fit_df, "key"))
    to_mat = np.zeros((1, len(index.idf)))
    to_mat[0, 0] = 0.625
    index = dataclasses.replace(index, to_mat=to_mat)
    spark_milli = spark.range(1).select(
        F.floor(F.round(F.lit(0.3125), 3) * 1000 + 0.5).alias("m")
    ).first()["m"]
    assert spark_milli == 313

    docs = lists_to_df(spark, ["abcdef"])
    got = incremental_match(docs, index).toPandas()
    assert got.sim_milli.tolist() == [spark_milli]
    verdict = admission_filter(docs, index, threshold=0.313).toPandas()
    assert verdict.best_sim_milli.tolist() == [spark_milli]
    assert not verdict.admitted.any()


def test_serving_broadcasts_each_index_once(spark, fitted, monkeypatch):
    """Repeated serving calls on one index share one broadcast (a
    broadcast per call left a copy of the index in ``spark.local.dir``
    for every call); a ``dataclasses.replace`` copy gets its own, and the
    index still pickles without it."""
    import dataclasses
    import pickle

    from pyspark import SparkContext

    from polyfuzz_spark.streaming.incremental import (
        TfidfIndex,
        admission_filter,
    )

    model, to_vec, _ = fitted
    index = build_index(model, to_vec)
    made = []
    real = SparkContext.broadcast

    def spy(self, value):
        if isinstance(value, TfidfIndex):
            made.append(value)
        return real(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    docs = lists_to_df(spark, NEW_DOCS)
    first = _canon(incremental_match(docs, index, top_n=2).toPandas())
    for _ in range(3):
        again = _canon(incremental_match(docs, index, top_n=2).toPandas())
        pd.testing.assert_frame_equal(first, again)
        admission_filter(docs, index, threshold=0.5).collect()
    assert made == [index]

    copy = dataclasses.replace(index)
    admission_filter(docs, copy, threshold=0.5).collect()
    incremental_match(docs, copy).collect()
    assert len(made) == 2 and made[1] is copy

    back = pickle.loads(pickle.dumps(index))
    assert back._bc is None
    assert len(pickle.dumps(index)) == len(pickle.dumps(copy))


def _serve_with_bound(monkeypatch, bound, call, docs):
    """(schema, frame, ran mapInPandas) of ``call(docs)`` collected with
    ``matchers.SERVE_DRIVER_MAX_DOCS = bound``."""
    import polyfuzz_spark.matchers as M

    monkeypatch.setattr(M, "SERVE_DRIVER_MAX_DOCS", bound)
    mapped = []
    real = type(docs).mapInPandas

    def spy(self, *a, **k):
        mapped.append(1)
        return real(self, *a, **k)

    monkeypatch.setattr(type(docs), "mapInPandas", spy)
    out = call(docs)
    return out.schema, out.toPandas(), bool(mapped)


def _serving_call(api, index):
    """(call(docs), sort order of its frame) of a serving API."""
    from polyfuzz_spark.streaming.incremental import admission_filter

    if api == "admission_filter":
        return lambda docs: admission_filter(docs, index, threshold=0.5), [
            "doc_id"
        ]
    return lambda docs: incremental_match(
        docs, index, top_n=2, min_similarity=0.2
    ), ["from_id", "rnk"]


@pytest.mark.parametrize("api", ["admission_filter", "incremental_match"])
def test_serving_tiers_agree(spark, fitted, monkeypatch, api):
    """A batch call within ``matchers.SERVE_DRIVER_MAX_DOCS`` scores on the
    driver and must give the frame ``mapInPandas`` gives (bound 0), schema
    and dtypes included; a bound one below the batch also falls back."""
    _, _, index = fitted
    call, order = _serving_call(api, index)
    docs = lists_to_df(spark, NEW_DOCS)
    frames = []
    for bound, mapped in ((len(NEW_DOCS), False), (0, True),
                          (len(NEW_DOCS) - 1, True)):
        schema, pdf, ran = _serve_with_bound(monkeypatch, bound, call, docs)
        assert ran == mapped, bound
        frames.append(
            (schema, pdf.sort_values(order).reset_index(drop=True))
        )
    (d_schema, d) = frames[0]
    assert len(d) > 0
    for schema, pdf in frames[1:]:
        assert schema == d_schema
        pd.testing.assert_frame_equal(pdf, d, check_exact=True)


@pytest.mark.parametrize("api", ["admission_filter", "incremental_match"])
def test_serving_driver_tier_respects_memory_cap(spark, fitted, monkeypatch,
                                                 api):
    """The driver holds a dense query, score and milli row per doc, 8 bytes
    per index term and 2 × 8 per indexed doc: a batch whose rows exceed
    ``dense_cosine.BROADCAST_MAX_BYTES`` goes to ``mapInPandas`` under any
    row bound, with the same frame."""
    import polyfuzz_spark.operators.dense_cosine as DC

    _, _, index = fitted
    call, order = _serving_call(api, index)
    docs = lists_to_df(spark, NEW_DOCS)
    row_bytes = 8 * (len(index.idf) + 2 * len(index.to_ids))
    frames = []
    for n_rows, mapped in ((len(NEW_DOCS), False),
                           (len(NEW_DOCS) - 1, True), (0, True)):
        monkeypatch.setattr(DC, "BROADCAST_MAX_BYTES", n_rows * row_bytes)
        _, pdf, ran = _serve_with_bound(monkeypatch, 10**6, call, docs)
        assert ran == mapped, n_rows
        frames.append(pdf.sort_values(order).reset_index(drop=True))
    for pdf in frames[1:]:
        pd.testing.assert_frame_equal(pdf, frames[0], check_exact=True)


# executed stages of admission_filter + collect on NEW_DOCS, measured on
# the driver tier: 2 for the bounded collect (a limit per partition, then
# one partition) and 1 for the result's collect. The mapInPandas tier
# runs 1, a Python-worker stage that costs more than the three.
ADMIT_STAGES = 3


def test_admission_filter_stage_budget(spark, fitted):
    from polyfuzz_spark.streaming.incremental import admission_filter

    from .test_minhash import _stages_run

    _, _, index = fitted
    docs = lists_to_df(spark, NEW_DOCS)
    sc = spark.sparkContext
    group = "admission-filter-stage-budget"
    sc.setJobGroup(group, "admission_filter stage budget")
    try:
        out = admission_filter(docs, index, threshold=0.5).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(out) == len(NEW_DOCS)
    assert _stages_run(sc, group) <= ADMIT_STAGES
