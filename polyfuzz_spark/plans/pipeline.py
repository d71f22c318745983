"""Checkpointed, resumable entity-resolution pipeline (north-rule core;
reference lifecycle §3.1/§3.3 re-expressed as staged Spark jobs).

Stages (each writes parquet + a JSON manifest with row counts, the sha256
content invariant, and a score distribution). A checkpoint is ONE Spark
job: the write's ``observe`` carries the row count, the audit totals and
the score distribution, per-file row counts come from the written parquet
footers on the driver, and the stage is read back with the schema just
written — nothing re-reads a stage to manifest it:

    ingest      corpus table (input_hint schema) → checkpoint
    candidates  MinHash-LSH blocking → (from_id, to_id)
    scores      exact TF-IDF cosine on candidate pairs
    matches     top-n + threshold (long matches contract)
    clusters    edge filter + iterative connected components
    survivors   deduplicated corpus (drop non-representative members)
    golden      (optional, ERConfig.golden_records) one golden record per
                cluster: survivorship merge with sha256 provenance

``run()`` skips any stage whose manifest is already complete — kill the job
after any stage and rerun with the same run_dir to resume. The stage sink
is pluggable behind ``ERConfig.iceberg_table_prefix``: when a catalog table
prefix is configured every checkpoint goes through the DataFrameWriterV2
(``df.writeTo(f"{prefix}_{stage}").createOrReplace()``) and resumes read
``spark.read.table(...)``; unset (the sandbox default — no Iceberg jars
here) it writes parquet under ``run_dir``. Writer selection is unit-tested
(`tests/test_pipeline_e2e.py`); manifests behave identically either way.

Partitioning notes (100 TB thinking):
* ingest is repartitioned by doc_id hash so downstream joins see uniform
  input regardless of source file layout;
* candidates/scores shuffle on band_key / term — both hash-uniform by
  construction, with hot buckets capped in blocking;
* AQE handles residual skew + partition coalescing (session defaults).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..metrics import score_distribution
from ..operators.cosine_join import score_candidates_packed
from ..operators.linkage import connected_components, filter_edges
from ..operators.mapside import (
    both_orientations,
    candidates_from_bands,
    fit_idf_mapside,
    minhash_bands_mapside,
    vectorize_packed_mapside,
)
from ..operators.tfidf import TfidfConfig
from ..operators.topk import attach_to_keys, top_n_matches


@dataclass
class ERConfig:
    key_col: str = "content"
    n_gram_range: tuple[int, int] = (3, 3)
    num_hashes: int = 64
    bands: int = 16
    max_bucket_size: int | None = 2000
    min_shared_bands: int = 1
    # hot-bucket policy for blocking: "drop" (cap discards members — the
    # round-2 default) or "salt" (recall-preserving salted grid join up to
    # max_bucket_size*max_salt members per bucket, mapside._salted_sides)
    hot_bucket: str = "drop"
    max_salt: int = 16
    min_similarity: float = 0.8
    link_min_similarity: float = 0.8
    top_n: int = 5
    tfidf: TfidfConfig = field(default_factory=TfidfConfig)
    # Iceberg sink gate: a catalog table prefix (e.g. "cat.db.er_run1")
    # switches every stage checkpoint from run_dir parquet to
    # writeTo(f"{prefix}_{stage}").createOrReplace(); None = parquet
    iceberg_table_prefix: str | None = None
    # optional survivorship stage: one golden record per entity cluster
    # (longest content + sha provenance, modal categorical fields). Modal
    # columns default EMPTY so the stage works on any corpus schema; name
    # the categorical columns your corpus actually has.
    golden_records: bool = False
    golden_modal_cols: tuple[str, ...] = ()


class CheckpointedPlan:
    """Shared stage-checkpoint plumbing (manifests, resume, parquet/Iceberg
    sink switch, per-partition lineage). Subclasses set ``STAGES``, a
    ``self.cfg`` carrying ``iceberg_table_prefix``, and implement
    ``run()`` in terms of :meth:`_checkpoint` / :meth:`is_complete` /
    :meth:`read`."""

    STAGES: list[str] = []

    def __init__(self, spark: SparkSession, run_dir: str):
        self.spark = spark
        self.run_dir = Path(run_dir)
        self.run_dir.mkdir(parents=True, exist_ok=True)
        # wall-clock of the previous _checkpoint's completion, for
        # attributing eager pre-checkpoint work (localCheckpoint jobs,
        # knob-resolution counts) to the stage that runs it
        self._prev_stage_done: float | None = None
        # schema of each parquet stage this plan wrote, for read()
        self._schemas: dict[str, StructType] = {}

    # ------------------------------------------------------------ plumbing
    def _path(self, stage: str) -> Path:
        return self.run_dir / stage

    def _manifest(self, stage: str) -> Path:
        return self.run_dir / f"{stage}.manifest.json"

    def is_complete(self, stage: str) -> bool:
        mf = self._manifest(stage)
        if not mf.exists():
            return False
        return json.loads(mf.read_text()).get("complete", False)

    def sink_kind(self) -> str:
        """'iceberg' when a catalog table prefix is configured, else
        'parquet' — the single switch both the writer and the reader obey."""
        return "iceberg" if self.cfg.iceberg_table_prefix else "parquet"

    def _table(self, stage: str) -> str:
        return f"{self.cfg.iceberg_table_prefix}_{stage}"

    def _write_stage(self, stage: str, df: DataFrame) -> None:
        if self.sink_kind() == "iceberg":
            df.writeTo(self._table(stage)).createOrReplace()
        else:
            df.write.mode("overwrite").parquet(str(self._path(stage)))

    def read(self, stage: str) -> DataFrame:
        """The stage's table. A parquet stage this plan wrote is read with
        the schema it wrote, so the read runs no schema-inference job; a
        stage completed by an earlier process is read with inference."""
        if self.sink_kind() == "iceberg":
            return self.spark.read.table(self._table(stage))
        reader = self.spark.read
        if stage in self._schemas:
            reader = reader.schema(self._schemas[stage])
        return reader.parquet(str(self._path(stage)))

    def _file_lineage(self, stage: str) -> list[tuple[str, int]]:
        """(file name, rows) per non-empty data file of a parquet stage,
        from the files' footers on the driver: no Spark job. Empty files
        are left out, as a row-count query over the files leaves them."""
        import pyarrow.parquet as pq

        files = (
            p for p in self._path(stage).iterdir()
            if p.suffix == ".parquet" and not p.name.startswith(("_", "."))
        )
        return sorted(
            (p.name, n) for p in files if (n := pq.read_metadata(p).num_rows)
        )

    def _scan_lineage(self, back: DataFrame) -> list[tuple[str, int]]:
        """(part, rows) per input file, or per scan partition for sinks
        that expose no file names, in ONE map-side-combined job whose
        output is bounded by the file count."""
        per_part = (
            back.groupBy(F.input_file_name().alias("part")).count().collect()
        )
        if per_part and all(r["part"] == "" for r in per_part):
            per_part = (
                back.groupBy(
                    F.spark_partition_id().cast("string").alias("part")
                ).count().collect()
            )
        return sorted(
            (r["part"].rsplit("/", 1)[-1] or r["part"], int(r["count"]))
            for r in per_part
        )

    def _checkpoint(self, stage: str, df: DataFrame,
                    sim_col: str | None = None,
                    extra: dict | None = None,
                    metrics: dict | None = None) -> DataFrame:
        """Write the stage, then manifest it from the write job itself: no
        re-read. The write's ``observe`` (CollectMetrics) carries the row
        count, the score distribution of ``sim_col`` when it is set
        (``metrics.score_distribution``) and the caller's ``metrics``
        (manifest key → aggregate Column, e.g. audit totals; null
        aggregates of an empty stage land as 0). A parquet stage's
        per-file row counts come from the written files' footers and must
        sum to the observed count; the Iceberg sink keeps a per-file row
        count query. The returned DataFrame reads the stage back lazily,
        with the schema just written."""
        t0 = time.monotonic()
        dist = score_distribution(sim_col) if sim_col is not None else []
        obs = Observation(f"{stage}_metrics")
        self._write_stage(stage, df.observe(
            obs, F.count(F.lit(1)).alias("rows"), *dist,
            *[c.alias(k) for k, c in (metrics or {}).items()],
        ))
        # one row in observe order: rows, the distribution, the metrics
        observed = list(obs.get.items())
        rows = observed[0][1]
        parquet = self.sink_kind() == "parquet"
        if parquet:
            self._schemas[stage] = df.schema
        back = self.read(stage)
        lineage = (
            self._file_lineage(stage) if parquet else self._scan_lineage(back)
        )
        if sum(c for _, c in lineage) != rows:
            raise RuntimeError(
                f"stage {stage}: the written files hold "
                f"{sum(c for _, c in lineage)} rows, the write observed {rows}"
            )
        manifest = {
            "stage": stage,
            "rows": rows,
            "complete": True,
            "written_at": time.time(),
            "schema": back.schema.simpleString(),
            "sink": self.sink_kind(),
            "location": (
                self._table(stage) if self.sink_kind() == "iceberg"
                else str(self._path(stage))
            ),
        }
        if len(lineage) <= 4096:
            manifest["partition_lineage"] = dict(lineage)
        else:  # manifest stays human-sized at any scale; counts still exact
            counts = [c for _, c in lineage]
            manifest["partition_lineage_summary"] = {
                "partitions": len(counts),
                "rows_min": min(counts),
                "rows_max": max(counts),
            }
        if dist:
            d = dict(observed[1:1 + len(dist)])
            d["p50_p90_p99"] = list(d["p50_p90_p99"] or [])
            manifest["score_distribution"] = d
        manifest.update({
            k: (0 if v is None else v) for k, v in observed[1 + len(dist):]
        })
        if extra:
            manifest.update(extra)
        # stage walls make every run self-profiling from its manifests
        # alone: wall_s is compute + write + lineage (the compute is lazy,
        # so it lands inside the write job);
        # pre_wall_s is the stage's EAGER pre-checkpoint work (candidate
        # localCheckpoints, knob-resolution counts) since the previous
        # stage finished
        manifest["wall_s"] = round(time.monotonic() - t0, 3)
        if self._prev_stage_done is not None:
            manifest["pre_wall_s"] = round(t0 - self._prev_stage_done, 3)
        self._manifest(stage).write_text(json.dumps(manifest, indent=2))
        self._prev_stage_done = time.monotonic()
        return back

    def _amend_manifest(self, stage: str, extra: dict) -> None:
        """Merge ``extra`` into an already-written stage manifest (for
        totals that are cheapest to compute from the written, column-pruned
        checkpoint rather than from the pre-write plan)."""
        mf = self._manifest(stage)
        manifest = json.loads(mf.read_text())
        manifest.update(extra)
        mf.write_text(json.dumps(manifest, indent=2))

    def checkpoint_ingest(self, corpus: DataFrame | None) -> None:
        """Shared first stage: assert the per-row sha256 content invariant
        at the boundary, repartition by doc_id hash so downstream joins see
        uniform input regardless of source file layout, checkpoint.

        The invariant rides the write job itself (``observe`` metric — a
        pre-write ``count`` was a second full pass over the source). On a
        violation the stage MANIFEST is removed before raising, so the
        stage is incomplete for resume purposes and re-runs; the partially
        written data dir is overwritten then."""
        assert corpus is not None, "first run needs the corpus DataFrame"
        has_sha = "content_sha256" in corpus.columns
        metrics = {
            "sha256_violations": F.sum(
                (F.sha2(F.col("content"), 256)
                 != F.col("content_sha256")).cast("bigint")
            )
        } if has_sha else None
        n_part = self.spark.sparkContext.defaultParallelism * 2
        self._checkpoint(
            "ingest",
            corpus.repartition(n_part, "doc_id"),
            metrics=metrics,
            extra=None if has_sha else {"sha256_violations": 0},
        )
        if has_sha:
            bad = json.loads(self._manifest("ingest").read_text())[
                "sha256_violations"
            ]
            if bad:
                self._manifest("ingest").unlink()
                raise ValueError(f"sha256 invariant violated on {bad} rows")


class ERPipeline(CheckpointedPlan):
    """match → select → cluster over a corpus DataFrame, checkpointed."""

    STAGES = ["ingest", "candidates", "scores", "matches", "clusters",
              "survivors"]

    def __init__(self, spark: SparkSession, run_dir: str,
                 config: ERConfig | None = None):
        super().__init__(spark, run_dir)
        self.cfg = config or ERConfig()
        if self.cfg.golden_records:
            # instance attr shadows the class list; resume/summary follow it
            self.STAGES = [*self.STAGES, "golden"]

    # -------------------------------------------------------------- stages
    def run(self, corpus: DataFrame | None = None) -> dict:
        """Run all incomplete stages; returns the manifest summary."""
        cfg = self.cfg

        if not self.is_complete("ingest"):
            self.checkpoint_ingest(corpus)
        docs = self.read("ingest").select(
            "doc_id", F.col(cfg.key_col).alias("key")
        )
        n_docs = json.loads(self._manifest("ingest").read_text())["rows"]

        # capture BEFORE any checkpoint/backfill mutates the manifest:
        # the ordered-pairs resume guard below must run whenever the
        # candidates stage already existed at entry, even when the same
        # legacy manifest also needs the reduction_ratio backfill (a
        # legacy run_dir lacks both fields — gating the guard on the
        # backfill's else-branch would skip it exactly there)
        candidates_preexisting = self.is_complete("candidates")
        if not candidates_preexisting:
            bands = minhash_bands_mapside(
                docs, "key", cfg.tfidf,
                num_hashes=cfg.num_hashes, bands=cfg.bands,
            )
            # unordered pairs: cosine is symmetric, so each pair is scored
            # once and orientations are restored before the per-from top-n
            # — the scores stage's fat packed join, kernel, and checkpoint
            # all halve
            cands = candidates_from_bands(
                bands, None,
                max_bucket_size=cfg.max_bucket_size,
                min_shared_bands=cfg.min_shared_bands,
                emit_both=False,
                hot_bucket=cfg.hot_bucket,
                max_salt=cfg.max_salt,
            )
            self._checkpoint(
                "candidates", cands,
                extra={"pairs_convention": "unordered"},
            )
        # blocking audit for the lineage trail: reduction ratio from counts
        # the manifests already carry (Christen's RR — what fraction of the
        # n² pair space the blocking scheme pruned). Driver arithmetic
        # only, no extra pass; runs on resume too, so a run_dir whose
        # candidates stage committed before this field existed (or crashed
        # between checkpoint and amend) is backfilled.
        cand_mf = json.loads(self._manifest("candidates").read_text())
        if candidates_preexisting:
            # convention check FIRST, unconditionally on resume: scoring
            # already-ordered pairs under the unordered convention
            # double-counts every match. Checked before the backfill so a
            # legacy manifest missing both fields still refuses.
            if cand_mf.get("pairs_convention") != "unordered":
                raise ValueError(
                    "run_dir was checkpointed with the pre-halving ordered-"
                    "pairs convention; resume would double-count matches — "
                    "start a fresh run_dir"
                )
        if "reduction_ratio" not in cand_mf:
            total = n_docs * (n_docs - 1) / 2
            self._amend_manifest("candidates", {
                "reduction_ratio": round(1 - cand_mf["rows"] / total, 6)
                if total else None,
            })

        if not self.is_complete("scores"):
            model = fit_idf_mapside(docs, "key", cfg.tfidf, n_docs=n_docs)
            # compact float32 weights: halves shuffle bytes; fine here
            # because scores feed threshold/F1 decisions, not exact oracles
            packed = vectorize_packed_mapside(model, docs, "key", compact=True)
            scores = score_candidates_packed(
                self.read("candidates"), packed, packed
            )
            self._checkpoint("scores", scores, sim_col="sim")

        if not self.is_complete("matches"):
            scored = both_orientations(self.read("scores"), carry=("sim",))
            matches = attach_to_keys(
                top_n_matches(scored, docs, cfg.top_n, cfg.min_similarity),
                docs,
            )
            self._checkpoint("matches", matches, sim_col="similarity")

        if not self.is_complete("clusters"):
            matches = self.read("matches")
            id_is_long = (
                matches.schema["from_id"].dataType.simpleString() == "bigint"
            )
            if id_is_long:
                key_of = lambda c: F.col(c).cast("string")
            else:
                # 128-bit struct ids (functions/ids.py) don't cast to
                # string/long: CC runs on a canonical JSON key (field
                # order = schema order, deterministic) and the original
                # ids are restored by joining the ingest mapping back —
                # works for ANY id type, at the cost of two broadcast-able
                # dimension joins on this stage only
                key_of = lambda c: F.to_json(F.col(c))
            edges = filter_edges(
                matches.select(
                    key_of("from_id").alias("from_key"),
                    key_of("to_id").alias("to_key"),
                    "similarity",
                ),
                cfg.link_min_similarity,
            )
            cc = connected_components(edges)
            if id_is_long:
                assignments = cc.select(
                    F.col("key").cast("long").alias("doc_id"),
                    "cluster_id",
                    F.col("representative").cast("long").alias("rep_doc_id"),
                )
            else:
                ids = self.read("ingest").select(
                    F.col("doc_id"),
                    F.to_json(F.col("doc_id")).alias("__k"),
                ).distinct()
                assignments = (
                    cc.join(ids, cc["key"] == ids["__k"])
                    .select("doc_id", "cluster_id", "representative")
                    .join(
                        ids.select(
                            F.col("doc_id").alias("rep_doc_id"),
                            F.col("__k").alias("__rk"),
                        ),
                        F.col("representative") == F.col("__rk"),
                    )
                    .select("doc_id", "cluster_id", "rep_doc_id")
                )
            self._checkpoint("clusters", assignments)

        if not self.is_complete("survivors"):
            # materialize the training corpus the run actually ships: every
            # ingest row except non-representative cluster members (full
            # original columns, content_sha256 lineage included). The drop
            # list is the clustered minority — AQE broadcasts it.
            from ..operators.dedup import drop_non_representatives

            survivors = drop_non_representatives(
                self.read("ingest"), self.read("clusters"),
            )
            self._checkpoint("survivors", survivors)
            # rows_dropped = ingest − survivors by construction (the drop
            # list is exactly the non-representative members, all of which
            # exist in ingest) — manifest arithmetic, not a re-count of the
            # clusters table
            rows = {
                s: json.loads(self._manifest(s).read_text())["rows"]
                for s in ("ingest", "survivors")
            }
            self._amend_manifest(
                "survivors",
                {"rows_dropped": int(rows["ingest"] - rows["survivors"])},
            )

        if cfg.golden_records and not self.is_complete("golden"):
            # one canonical record per cluster (singletons included) with
            # sha256 provenance — per-rule map-side-combined argmax aggs
            # over the same assignments the survivors stage consumed
            from ..operators.survivorship import golden_records

            asg = self.read("clusters").select(
                "doc_id", F.col("rep_doc_id").alias("rep")
            )
            golden = golden_records(
                self.read("ingest"), asg,
                id_col="doc_id", content_col=cfg.key_col,
                modal_cols=cfg.golden_modal_cols,
            )
            self._checkpoint("golden", golden)

        return {
            s: json.loads(self._manifest(s).read_text()) for s in self.STAGES
        }
