"""The benchmark workloads.

Each workload writes its seeded inputs to parquet in ``setup`` (repeatable:
the same seed rewrites the same files), runs one closed-loop operation per
``op`` call, which the runner times, and checks the outputs of every
operation against the generator's ground truth. Operation ``-1`` is the
traced runs' warm-up and records no samples.

Workload sizes are fixed per ``size`` ("full" for measurement, "smoke" for
the benchmark's own tests), never derived from the seed.
"""

from __future__ import annotations

import pickle
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from . import inputs
from .trace import Patch, counted, materialize

STAGES = ("ingest", "candidates", "scores", "matches", "clusters", "survivors")

# corpus size the library's driver union-find budget
# (operators.linkage.SMALL_GRAPH_MAX_EDGES, 1M edges) is set against: a
# 20M-doc run yields ~38M matches, far above it
PRODUCTION_DOCS = 20_000_000


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Workload:
    name = ""
    sizes: dict[str, dict] = {}

    def __init__(self, spark, work: Path, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.p = self.sizes[size]
        self.failures: list[str] = []
        self.report: dict[str, object] = {}
        self.layers: dict[str, list[float]] = {}

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def layer(self, name: str, value: float) -> None:
        """One per-pass sample of a per-layer metric (median is reported)."""
        self.layers.setdefault(name, []).append(float(value))

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int, tracer) -> None:
        raise NotImplementedError

    def instrument(self, tracer):
        """Context that routes the layers this workload calls through traced
        wrappers (a no-op context when the workload has none)."""
        return nullcontext()

    def traced_only(self, tracer) -> None:
        """Work that traced runs do once, after their operations, for
        per-layer figures only (nothing by default)."""

    def finish(self) -> float:
        """Whole-run checks; returns the workload's quality figure (0-1)."""
        raise NotImplementedError

    def input_bytes(self) -> int:
        return dir_bytes(self.work / "input")

    def headline(self, walls: list[float]) -> dict[str, tuple[float, str]]:
        """The workload's own end-to-end figures, by name with unit, from
        the wall times of its timed untraced operations."""
        raise NotImplementedError


@contextmanager
def production_scale_linkage(n_docs: int):
    """Scale the driver-tier edge budget down with the corpus, so the
    clusters stage runs the distributed pointer-doubling tier on this
    corpus as it does on a production one."""
    import polyfuzz_spark.operators.linkage as linkage

    saved = linkage.SMALL_GRAPH_MAX_EDGES
    linkage.SMALL_GRAPH_MAX_EDGES = max(1, saved * n_docs // PRODUCTION_DOCS)
    try:
        yield
    finally:
        linkage.SMALL_GRAPH_MAX_EDGES = saved


# ---------------------------------------------------------------- er_code
class ERCode(Workload):
    name = "er_code"
    sizes = {"full": {"entities": 1600}, "smoke": {"entities": 60}}

    def setup(self) -> None:
        from polyfuzz_spark.sources.corpus import generate_corpus

        path = self.work / "input" / "corpus"
        generate_corpus(
            self.spark, self.p["entities"], seed=self.seed
        ).write.mode("overwrite").parquet(str(path))
        self.corpus_path = str(path)
        self.n_docs = self.spark.read.parquet(self.corpus_path).count()

    def _plan(self, run_dir: Path, tracer):
        from polyfuzz_spark.plans.pipeline import ERConfig, ERPipeline

        class TracedER(ERPipeline):
            def _checkpoint(self, stage, df, *a, **kw):
                with tracer.span(f"pipeline.{stage}"):
                    return super()._checkpoint(stage, df, *a, **kw)

        cfg = ERConfig(bands=16, max_bucket_size=200, min_shared_bands=2)
        return TracedER(self.spark, str(run_dir), cfg)

    def op(self, i: int, tracer) -> None:
        run_dir = self.work / "er_runs" / f"pass{i}"
        plan = self._plan(run_dir, tracer)
        with production_scale_linkage(self.n_docs):
            summary = plan.run(self.spark.read.parquet(self.corpus_path))
        if i >= 0 and not tracer.enabled:  # traced passes move work between stages
            for stage in STAGES:
                mf = summary[stage]
                self.layer(f"pipeline.{stage}.wall_s", mf["wall_s"])
                self.layer(f"pipeline.{stage}.pre_wall_s", mf.get("pre_wall_s", 0.0))
                self.layer(f"pipeline.{stage}.rows", mf["rows"])
                self.layer(f"pipeline.{stage}.bytes", dir_bytes(run_dir / stage))
            self.layer("dedup.rows_dropped", summary["survivors"]["rows_dropped"])
        self._check_manifests(summary)
        self.report["ckpt_bytes_per_input_byte"] = (
            sum(dir_bytes(run_dir / s) for s in STAGES) / self.input_bytes()
        )
        # keep only the newest pass's checkpoints: finish() scores them
        prev = getattr(self, "last_run", None)
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
        self.last_run = run_dir
        self.last_plan = plan

    def headline(self, walls):
        return {"er_docs_per_s": (self.n_docs / statistics.median(walls), "docs/s")}

    def _check_manifests(self, s: dict) -> None:
        if s["ingest"]["rows"] != self.n_docs:
            self.fail(f"ingest rows {s['ingest']['rows']} != {self.n_docs}")
        if s["ingest"].get("sha256_violations", 0):
            self.fail("sha256 manifest violations")
        if s["survivors"]["rows"] + s["survivors"]["rows_dropped"] != self.n_docs:
            self.fail("survivors + dropped != ingest")
        if not all(s[st].get("complete") for st in STAGES):
            self.fail("incomplete stage manifest")

    def instrument(self, tracer):
        import polyfuzz_spark.operators.dedup as dedup
        import polyfuzz_spark.plans.pipeline as pipeline

        patch = Patch()
        patch.wrap(pipeline, "minhash_bands_mapside",
                   counted(tracer, "mapside.bands", "mapside.bands.rows"))
        patch.wrap(pipeline, "candidates_from_bands",
                   counted(tracer, "mapside.candidates", "mapside.candidates.pairs"))

        def fit(orig, *args, **kwargs):
            with tracer.span("mapside.fit_idf"):
                model = orig(*args, **kwargs)
                model.idf, n = materialize(model.idf)
            tracer.count("mapside.vocab_dim", n)
            return model

        def score(orig, *args, **kwargs):
            with tracer.span("cosine_join.packed"):
                done, n = materialize(orig(*args, **kwargs))
            # pairs the matches stage can keep (its min_similarity) per
            # pair scored; counted outside the span
            useful = done.where(F.col("sim") >= 0.8).count()
            tracer.count("cosine_join.packed.pairs_scored", n)
            tracer.count("cosine_join.packed.useful", useful)
            return done

        patch.wrap(pipeline, "fit_idf_mapside", fit)
        patch.wrap(pipeline, "vectorize_packed_mapside",
                   counted(tracer, "mapside.vectorize"))
        patch.wrap(pipeline, "score_candidates_packed", score)
        patch.wrap(pipeline, "top_n_matches", counted(tracer, "topk", "topk.rows"))
        patch.wrap(pipeline, "connected_components", traced_linkage(tracer))
        patch.wrap(dedup, "drop_non_representatives", counted(tracer, "dedup"))
        return patch

    def finish(self) -> float:
        from polyfuzz_spark.metrics import bcubed, blocking_quality, pairwise_f1

        plan = self.last_plan
        labels = self.spark.read.parquet(self.corpus_path).select(
            "doc_id", "entity_id"
        )
        clusters = plan.read("clusters")
        cands = plan.read("candidates")
        # every doc is scored; a doc no cluster claims is its own singleton
        asg = labels.join(clusters, "doc_id", "left").select(
            "doc_id", F.coalesce("rep_doc_id", "doc_id").alias("cluster")
        )
        b3 = bcubed(
            asg, labels.select("doc_id", F.col("entity_id").alias("label"))
        ).collect()[0]
        pf = pairwise_f1(cands, labels, clusters)
        a, b = labels.alias("a"), labels.alias("b")
        truth = a.join(
            b, (F.col("a.entity_id") == F.col("b.entity_id"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        ).select(F.col("a.doc_id").alias("from_id"),
                 F.col("b.doc_id").alias("to_id"))
        bq = blocking_quality(cands, truth, self.n_docs).collect()[0]
        self._check_components(
            plan.read("matches"), clusters, plan.cfg.link_min_similarity
        )
        f1 = b3.bcubed_f1_micro / 1e6
        self.report.update({
            "bcubed_f1": f1,
            "pairwise_f1": pf["f1"],
            "blocking.reduction_ratio": bq.reduction_ratio_milli / 1000,
            "blocking.pairs_completeness": bq.pairs_completeness_milli / 1000,
            "blocking.pairs_quality": bq.pairs_quality_milli / 1000,
        })
        for k in ("reduction_ratio", "pairs_completeness", "pairs_quality"):
            self.layer(f"blocking.{k}", self.report[f"blocking.{k}"])
        if b3.n_records != self.n_docs:
            self.fail("bcubed did not score every document")
        if f1 < 0.95:
            self.fail(f"bcubed_f1 {f1:.4f} below 0.95")
        if bq.pairs_completeness_milli < 900:
            self.fail("blocking pairs_completeness below 0.9")
        return f1

    def _check_components(self, matches, clusters, min_sim: float) -> None:
        """The clusters stage ran the distributed tier; the driver
        union-find tier over the same match edges must agree row for row."""
        from polyfuzz_spark.operators.linkage import (
            connected_components,
            filter_edges,
        )

        edges = filter_edges(matches.select(
            F.col("from_id").cast("string").alias("from_key"),
            F.col("to_id").cast("string").alias("to_key"),
            "similarity",
        ), min_sim)
        want = connected_components(edges).select(
            F.col("key").cast("long"), F.col("representative").cast("long")
        ).toPandas()
        got = clusters.select("doc_id", "rep_doc_id").toPandas()
        if set(map(tuple, want.values.tolist())) != set(map(tuple, got.values.tolist())):
            self.fail("distributed-tier clusters differ from driver union-find")


def traced_linkage(tracer):
    """Handler for ``connected_components``: records edges in, rounds run
    (0 = driver union-find tier) and components out. The edge list is
    materialized before the span, as the layer's first step would, so the
    work upstream of it stays with the caller."""
    def handler(orig, edges, *args, **kwargs):
        edges, n_edges = materialize(edges)
        tracer.count("linkage.edges", n_edges)
        stats: dict = {}
        with tracer.span("linkage"):
            done, _ = materialize(orig(edges, *args, stats=stats, **kwargs))
        tracer.count("linkage.iterations", stats.get("iterations", 0))
        tracer.count("linkage.components",
                     done.select("representative").distinct().count())
        return done
    return handler


# ------------------------------------------------------------ names_mix
class Part:
    """One step of a composite workload; shares the host's failure list,
    report and per-layer samples."""

    def __init__(self, host: Workload, p: dict):
        self.p = p
        self.spark, self.work, self.seed = host.spark, host.work, host.seed
        self.fail, self.layer, self.report = host.fail, host.layer, host.report


class NamesMatch(Part):
    """PolyFuzz's own flow on company names with planted typos:
    ``match`` (TF-IDF, top 3) and an EditDistance (WRatio) match on a
    subset; ``group`` runs in traced runs only. Inputs stay below the
    auto-blocking size, so the term-join cosine, grouping and the scorer
    UDF do the work."""

    def setup(self) -> None:
        to, frm = inputs.name_lists(self.seed, self.p["n_to"], self.p["n_from"])
        base = self.work / "input"
        for name, pdf in (("to", to), ("from", frm)):
            self.spark.createDataFrame(pdf).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(base / name))
        self.source = dict(zip(frm["doc_id"], frm["source_id"]))
        self.n_from = len(frm)

    def op(self, tracer) -> None:
        from polyfuzz_spark.api import PolyFuzzSpark

        base = self.work / "input"
        to = self.spark.read.parquet(str(base / "to"))
        frm = self.spark.read.parquet(str(base / "from")).select("doc_id", "key")
        with tracer.span("api.match"):
            pf = PolyFuzzSpark("TF-IDF", self.spark).match(frm, to, top_n=3)
            matched = pf.get_matches().toPandas()
        n = self.p["n_edit"]
        with tracer.span("scorers.wratio"):
            ed = PolyFuzzSpark("EditDistance", self.spark).match(
                frm.where(F.col("doc_id") < n), to.where(F.col("doc_id") < n)
            ).get_matches().toPandas()
        tracer.count("scorers.pairs_scored", n * n)
        self._check(matched, ed, n)
        self.last = (pf, matched)

    def group(self, tracer) -> None:
        pf, matched = self.last
        with tracer.span("api.group"):
            grouped = pf.group().get_matches().toPandas()
        if len(grouped) != len(matched):
            self.fail("group changed the number of match rows")
        has_to = grouped["to_key"].notna()
        if grouped.loc[has_to, "group"].isna().any():
            self.fail("group: matched row without a group")

    def _top1_acc(self, pdf) -> float:
        top = pdf[pdf["rank"] == 1]
        hits = sum(int(t == self.source[f]) for f, t in zip(top["from_id"], top["to_id"]))
        return hits / len(top) if len(top) else 0.0

    def _check(self, matched, ed, n_edit) -> None:
        if sorted(matched.loc[matched["rank"] == 1, "from_id"]) != list(range(self.n_from)):
            self.fail("match: not exactly one rank-1 row per from string")
        if matched.groupby("from_id").size().max() > 3:
            self.fail("match: more than top_n rows for a from string")
        acc = self._top1_acc(matched)
        self.report["names_top1_acc"] = acc
        if acc < 0.85:
            self.fail(f"names_top1_acc {acc:.3f} below 0.85")
        ed_acc = self._top1_acc(ed[ed["from_id"].map(self.source) < n_edit])
        self.report["wratio_top1_acc"] = ed_acc
        if ed_acc < 0.85:
            self.fail(f"wratio top-1 accuracy {ed_acc:.3f} below 0.85")


class ServeAdmit(Part):
    """Near-duplicate admission micro-batches against a fitted TF-IDF
    index: the serving side of the vectorizer, where per-call fixed cost
    (plan, index broadcast, Python worker round trip) dominates."""

    def setup(self) -> None:
        from polyfuzz_spark.operators.tfidf import fit_tfidf, vectorize
        from polyfuzz_spark.sources.corpus import generate_corpus
        from polyfuzz_spark.streaming.incremental import build_index

        p = self.p
        base = self.work / "input"
        generate_corpus(
            self.spark, p["entities"], max_copies=3, seed=self.seed
        ).select("doc_id", "entity_id", F.col("content").alias("key")).write.mode(
            "overwrite"
        ).parquet(str(base / "corpus"))
        corpus = self.spark.read.parquet(str(base / "corpus"))
        # the index holds each indexed entity's original; queries are its
        # later variants (planted near-duplicates) and the originals of
        # entities never indexed (fresh documents), interleaved by a
        # seeded shuffle and cut into fixed-size micro-batches
        indexed = F.col("entity_id") < p["index_entities"]
        is_orig = F.col("doc_id") % 3 == 0
        index_docs = corpus.where(indexed & is_orig).select("doc_id", "key")
        queries = corpus.where(indexed != is_orig).select(
            "doc_id", "key", indexed.alias("dup")
        ).toPandas()
        order = np.random.default_rng([self.seed, 3]).permutation(len(queries))
        queries = queries.iloc[order].reset_index(drop=True)
        queries["batch"] = np.arange(len(queries)) // p["batch"]
        self.n_batches = int(queries["batch"].max()) + 1
        self.truth = dict(zip(queries["doc_id"], ~queries["dup"]))
        self.spark.createDataFrame(queries[["doc_id", "key", "batch"]]).write.mode(
            "overwrite"
        ).partitionBy("batch").parquet(str(base / "queries"))
        t0 = time.perf_counter()
        model = fit_tfidf(index_docs, "key")
        self.index = build_index(model, vectorize(model, index_docs, "key"))
        self.layer("incremental.build_index_s", time.perf_counter() - t0)
        self.report["incremental.index_bytes"] = len(pickle.dumps(self.index))
        self.report["index_docs"] = len(self.index.to_ids)
        self.report["index_dim"] = len(self.index.idf)
        self.hits = self.seen = self.scored = 0

    def op(self, i: int, tracer) -> None:
        from polyfuzz_spark.streaming.incremental import admission_filter

        b = i % self.n_batches
        path = self.work / "input" / "queries" / f"batch={b}"
        with tracer.span("incremental.admit"):
            out = admission_filter(
                self.spark.read.parquet(str(path)), self.index, threshold=0.8
            ).toPandas()
        want = out["doc_id"].map(self.truth)
        if want.isna().any():
            self.fail(f"batch {b}: verdict for an unknown document")
        self.hits += int((out["admitted"] == want).sum())
        self.seen += len(out)
        self.scored += int((out["best_sim_milli"] > 0).sum())

    def finish(self) -> float:
        acc = self.hits / self.seen
        self.report["admit_acc"] = acc
        self.layer("incremental.vectorized_frac", self.scored / self.seen)
        self.layer("incremental.index_bytes", self.report["incremental.index_bytes"])
        if acc < 0.95:
            self.fail(f"admit_acc {acc:.3f} below 0.95")
        return acc


# -------------------------------------------------------------- names_mix
class NamesMix(Workload):
    name = "names_mix"
    sizes = {
        "full": {
            "names": {"n_to": 300, "n_from": 300, "n_edit": 60},
            "admit": {"entities": 300, "index_entities": 200, "batch": 50,
                      "per_pass": 4},
        },
        "smoke": {
            "names": {"n_to": 40, "n_from": 30, "n_edit": 15},
            "admit": {"entities": 45, "index_entities": 30, "batch": 10,
                      "per_pass": 2},
        },
    }

    def __init__(self, *args):
        super().__init__(*args)
        self.names = NamesMatch(self, self.p["names"])
        self.admit = ServeAdmit(self, self.p["admit"])
        self.walls: dict[str, list[float]] = {"names": [], "admit": []}
        self.batch = 0

    def setup(self) -> None:
        for part in (self.names, self.admit):
            part.setup()

    def op(self, i: int, tracer) -> None:
        def timed(key: str, fn, *args) -> None:
            t = time.perf_counter()
            fn(*args)
            if i >= 0 and not tracer.enabled:
                self.walls[key].append(time.perf_counter() - t)

        timed("names", self.names.op, tracer)
        for _ in range(self.p["admit"]["per_pass"]):
            timed("admit", self.admit.op, self.batch, tracer)
            self.batch += 1

    def traced_only(self, tracer) -> None:
        # group() costs about ten seconds of fixed Spark job overhead at
        # any input size on 4 vCPUs, twice the rest of the operation, and swings
        # with host CPU steal: timed on every pass it would leave room for
        # one sample per run
        self.names.group(tracer)

    def instrument(self, tracer):
        import polyfuzz_spark.matchers as matchers
        import polyfuzz_spark.operators.grouping as grouping

        patch = Patch()
        patch.wrap(matchers, "sparse_cosine_pairs",
                   counted(tracer, "cosine_join.sparse", "cosine_join.sparse.pairs",
                           keep_lineage=True))
        patch.wrap(grouping, "connected_components", traced_linkage(tracer))
        return patch

    def headline(self, walls):
        a = sorted(self.walls["admit"])
        return {
            "names_per_s": (self.names.n_from / statistics.median(self.walls["names"]),
                            "from-strings/s"),
            "admit_p50_ms": (1000 * statistics.median(a), "ms"),
            "admit_p90_ms": (1000 * a[max(0, -(-9 * len(a) // 10) - 1)],
                             f"ms (of {len(a)} batches)"),
        }

    def finish(self) -> float:
        """Mean of the three accuracies: a drop in any one shows."""
        return statistics.mean((
            self.report["names_top1_acc"],
            self.report["wratio_top1_acc"],
            self.admit.finish(),
        ))


WORKLOADS = {w.name: w for w in (ERCode, NamesMix)}
