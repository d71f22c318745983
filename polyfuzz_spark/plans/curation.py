"""Checkpointed, resumable corpus-curation pipeline: the end-to-end
training-data preparation job a 100 TB corpus actually runs, composed from
the engine's individually-oracle-checked curation verbs.

No reference analog (PolyFuzz matches strings; it does not curate corpora) —
this is the training-data-pipeline extension family (SURVEY §2.11) staged
behind the same checkpoint/resume plumbing as the ER pipeline
(:class:`~polyfuzz_spark.plans.pipeline.CheckpointedPlan`).

Stages (each writes parquet — or Iceberg when configured — plus a JSON
manifest with row counts and per-partition lineage):

    ingest    corpus table (input_hint schema), sha256 invariant asserted
    scrub     PII placeholders (URL → email → IPv4) + per-doc counts
    strip     boilerplate line removal (hot lines across ≥ min_docs docs)
    verdicts  Gopher/C4 quality verdict table (auditable: signals+reasons)
    curated   kept documents only (semi-join on the verdict)
    dedup     exact dedup on post-scrub content (keep min doc_id)
    split     leakage-safe train/test split (MinHash near-dup clusters
              assigned atomically by a deterministic hash of the rep)
    final     decontaminated corpus: test rows sharing any word
              ``decontam_n``-gram with ANY train row are dropped

``run()`` skips any stage whose manifest is complete — kill after any stage
and rerun with the same run_dir to resume.

Scale notes (100 TB thinking), stage by stage:
* scrub/strip/verdicts are map-side expressions plus per-doc-keyed
  aggregations (no corpus-global state; thresholds are constants);
* the hot-line set and the exact-dedup group table are single
  map-side-combined aggregations whose outputs are small relative to the
  corpus (AQE broadcasts the joins back);
* split's near-dup pairs come from banded MinHash LSH with bucket caps —
  never all-pairs — verified by the packed map-side TF-IDF cosine kernel
  (the ER flagship's measured scoring path), and clustering reuses the
  adaptive CC tiers;
* final's contamination check is a left-semi join of the SMALL test side
  against the train side's distinct (optionally xxhash64-compressed) gram
  set — a boilerplate gram in millions of train docs costs one row.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codestats import code_quality_verdict
from ..functions.curation import DEFAULT_THRESHOLDS, curation_verdict
from ..functions.scrub import pii_count, scrub_text
from ..operators.boilerplate import (
    DEFAULT_MIN_CHARS,
    DEFAULT_MIN_DOCS,
    strip_boilerplate,
)
from ..operators.cosine_join import score_candidates_packed
from ..operators.decontam import DEFAULT_N, contaminated_ids
from ..operators.dedup import leakage_safe_split
from ..operators.mapside import (
    candidates_from_bands,
    fit_idf_mapside,
    minhash_bands_mapside,
    vectorize_packed_mapside,
)
from .pipeline import CheckpointedPlan


@dataclass
class CurationConfig:
    text_col: str = "content"
    # boilerplate strip
    boiler_min_docs: int = DEFAULT_MIN_DOCS
    boiler_min_chars: int = DEFAULT_MIN_CHARS
    # quality verdict thresholds (functions/curation.py defaults)
    min_tokens: int = DEFAULT_THRESHOLDS["min_tokens"]
    min_alpha_milli: int = DEFAULT_THRESHOLDS["min_alpha_milli"]
    max_dup_token_milli: int = DEFAULT_THRESHOLDS["max_dup_token_milli"]
    max_top_bigram_milli: int = DEFAULT_THRESHOLDS["max_top_bigram_milli"]
    # when True, the verdicts stage also applies the code-payload rules
    # (functions/codestats.py: line lengths, alnum fraction, autogen
    # markers) and audits the license guess — keep becomes the AND of the
    # text and code verdicts, reasons concatenate text-then-code
    code_rules: bool = False
    # near-dup pairs feeding the leakage-safe split: the ER flagship's
    # blocking + packed-cosine machinery (measured ~15x cheaper than the
    # exact-Jaccard verify at the same corpus). The BANDING stays pinned
    # to b=16×r=4 — at dup_threshold 0.8 its candidate miss probability
    # is already ≈2e-4 per pair, and the permissive r=2 regime would
    # over-generate low-similarity candidates ~2.2× the pair-scoring
    # wall at sf0.1 for zero extra output. The SAFETY knobs default to
    # None = size-resolved via adaptive.resolve_blocking_knobs on the
    # deduped corpus size: bucket cap 5000 / ≥1 shared band below 500k
    # docs, the measured-safe cap 200 / ≥2 above it — where the fixed
    # permissive values made the banded join's single shuffle exceed the
    # box (75+ GB at 1M docs of the shared-vocabulary code corpus).
    # Explicit ints always win over the auto-resolution.
    dup_threshold: float = 0.8
    num_hashes: int | None = 64
    bands: int | None = 16
    max_bucket_size: int | None = None
    min_shared_bands: int | None = None
    # optional CCNet-style hashed-LM perplexity stage (functions/lm.py),
    # inserted between dedup and split when lm_filter=True: fit the
    # fixed-size hashed unigram LM on a reference corpus (caller-supplied
    # via run(lm_reference=...), else a deterministic md5-keyed
    # lm_ref_rate subset of the deduped corpus), score every doc in
    # milli-bits, tag per-lm_group_col terciles, DROP the high-surprisal
    # tail (CCNet keeps head+middle). Zero-token docs drop too (their
    # perplexity is undefined and they are unusable for training; the
    # min_tokens Gopher rule upstream removes them before this anyway).
    lm_filter: bool = False
    lm_buckets: int = 1 << 16
    lm_salt: str = "lm"
    lm_ref_rate: float = 0.25
    lm_ref_salt: str = "lmref"
    lm_group_col: str = "lang"
    # split + decontamination
    train_frac: float = 0.8
    split_salt: str = "split"
    decontam_n: int = DEFAULT_N
    # Iceberg sink gate, same contract as ERConfig.iceberg_table_prefix
    iceberg_table_prefix: str | None = None


class CurationPipeline(CheckpointedPlan):
    """scrub → strip → curate → dedup → split → decontaminate, checkpointed."""

    STAGES = ["ingest", "scrub", "strip", "verdicts", "curated", "dedup",
              "split", "final"]

    def __init__(self, spark: SparkSession, run_dir: str,
                 config: CurationConfig | None = None):
        super().__init__(spark, run_dir)
        self.cfg = config or CurationConfig()
        if self.cfg.lm_filter:
            # instance-level stage list: the optional perplexity stage
            # slots between dedup and split
            stages = list(self.STAGES)
            stages.insert(stages.index("split"), "lmfilter")
            self.STAGES = stages

    # -------------------------------------------------------------- stages
    def run(self, corpus: DataFrame | None = None,
            lm_reference: DataFrame | None = None) -> dict:
        """Run all incomplete stages; returns the manifest summary.
        ``lm_reference`` (used only with ``cfg.lm_filter``): the trusted
        corpus the perplexity LM is fit on — CCNet fits on Wikipedia;
        default is a deterministic md5-keyed subset of the deduped
        corpus itself."""
        cfg = self.cfg
        text = cfg.text_col

        if not self.is_complete("ingest"):
            self.checkpoint_ingest(corpus)

        if not self.is_complete("scrub"):
            docs = self.read("ingest")
            # content_sha256 stays as-is past this point: it is lineage to
            # the SOURCE row (the invariant is asserted at ingest); content
            # diverges from it by design once placeholders land
            scrubbed = docs.select(
                *[c for c in docs.columns if c != text],
                scrub_text(text).alias(text),
                (
                    pii_count(text, "url")
                    + pii_count(text, "email")
                    + pii_count(text, "ip")
                ).alias("n_pii_scrubbed"),
            )
            self._checkpoint(
                "scrub", scrubbed,
                metrics={"pii_scrubbed_total": F.sum("n_pii_scrubbed")},
            )

        if not self.is_complete("strip"):
            docs = self.read("scrub")
            stripped = strip_boilerplate(
                docs.select("doc_id", text),
                min_docs=cfg.boiler_min_docs,
                min_chars=cfg.boiler_min_chars,
                text_col=text,
                id_col="doc_id",
            )
            self._checkpoint(
                "strip", docs.drop(text).join(stripped, "doc_id"),
                metrics={"lines_removed_total": F.sum("n_lines_removed")},
            )

        if not self.is_complete("verdicts"):
            verdicts = curation_verdict(
                self.read("strip"),
                text_col=text,
                id_col="doc_id",
                min_tokens=cfg.min_tokens,
                min_alpha_milli=cfg.min_alpha_milli,
                max_dup_token_milli=cfg.max_dup_token_milli,
                max_top_bigram_milli=cfg.max_top_bigram_milli,
            )
            if cfg.code_rules:
                # both verdicts are map-side projections of the same stage
                # output; the doc_id equi-join of the two NARROW signal
                # tables is the only shuffle this adds
                code_v = code_quality_verdict(
                    self.read("strip"), content_col=text, id_col="doc_id"
                ).withColumnsRenamed(
                    {"keep": "code_keep", "reasons": "code_reasons"}
                )
                tv = verdicts.withColumnsRenamed(
                    {"keep": "text_keep", "reasons": "text_reasons"}
                )
                joined = tv.join(code_v, "doc_id")
                # text rules first, then code rules — fixed audit order
                reasons = F.concat_ws(
                    ",",
                    F.nullif(F.col("text_reasons"), F.lit("")),
                    F.nullif(F.col("code_reasons"), F.lit("")),
                )
                verdicts = joined.select(
                    *[c for c in joined.columns
                      if c not in ("text_keep", "text_reasons",
                                   "code_keep", "code_reasons")],
                    (F.col("text_keep") & F.col("code_keep")).alias("keep"),
                    reasons.alias("reasons"),
                )
            metrics = {"n_kept": F.sum(F.col("keep").cast("bigint"))}
            if cfg.code_rules:
                metrics["n_dropped_code_rules"] = F.sum(
                    (
                        ~F.col("keep")
                        & (
                            F.col("reasons").contains("long_lines")
                            | F.col("reasons").contains("dense_lines")
                            | F.col("reasons").contains("low_alnum")
                            | F.col("reasons").contains("autogenerated")
                        )
                    ).cast("bigint")
                )
            self._checkpoint("verdicts", verdicts, metrics=metrics)
            self._amend_manifest("verdicts", {
                "n_dropped":
                    json_rows(self, "verdicts")
                    - json_manifest(self, "verdicts")["n_kept"],
            })

        if not self.is_complete("curated"):
            kept_ids = self.read("verdicts").where("keep").select("doc_id")
            self._checkpoint(
                "curated",
                self.read("strip").join(kept_ids, "doc_id", "left_semi"),
            )

        if not self.is_complete("dedup"):
            docs = self.read("curated")
            reps = (
                docs.select(F.sha2(F.col(text), 256).alias("__sha"), "doc_id")
                .groupBy("__sha")
                .agg(F.min("doc_id").alias("doc_id"))
                .select("doc_id")
            )
            self._checkpoint("dedup", docs.join(reps, "doc_id", "left_semi"))
            self._amend_manifest("dedup", {
                "rows_dropped":
                    json_rows(self, "curated") - json_rows(self, "dedup"),
            })

        if cfg.lm_filter and not self.is_complete("lmfilter"):
            from ..functions.lm import (
                bits_per_token, quality_buckets, train_hashed_lm,
            )
            from ..functions.sampling import deterministic_sample

            docs = self.read("dedup")
            ref = lm_reference if lm_reference is not None else (
                deterministic_sample(
                    docs, "doc_id", cfg.lm_ref_rate, salt=cfg.lm_ref_salt
                )
            )
            lm = train_hashed_lm(ref, text, cfg.lm_buckets, cfg.lm_salt)
            scored = bits_per_token(
                docs, lm, "doc_id", text, cfg.lm_buckets, cfg.lm_salt
            )
            grp = (
                docs.select("doc_id", cfg.lm_group_col)
                if cfg.lm_group_col in docs.columns
                else docs.select(
                    "doc_id", F.lit("all").alias(cfg.lm_group_col)
                )
            )
            tagged = quality_buckets(
                scored.join(grp, "doc_id"), cfg.lm_group_col
            ).withColumnRenamed("bucket", "lm_bucket")
            kept = docs.join(
                tagged.where(F.col("lm_bucket") != "tail")
                .select("doc_id", "bits_milli", "lm_bucket"),
                "doc_id",
            )
            self._checkpoint(
                "lmfilter", kept,
                metrics={
                    "n_head": F.sum(
                        (F.col("lm_bucket") == "head").cast("bigint")
                    ),
                    "bits_milli_max": F.max("bits_milli"),
                },
            )
            self._amend_manifest("lmfilter", {
                "rows_dropped":
                    json_rows(self, "dedup") - json_rows(self, "lmfilter"),
            })

        if not self.is_complete("split"):
            from ..operators import adaptive
            from ..operators.adaptive import _UNSET, resolve_blocking_knobs

            split_src = "lmfilter" if cfg.lm_filter else "dedup"
            docs = self.read(split_src)
            if cfg.lm_filter:
                # score/bucket columns are lmfilter lineage, not corpus
                # payload — the split output keeps the corpus schema
                docs = docs.drop("bits_milli", "lm_bucket")
            # knobs sized to the SPLIT INPUT corpus (row count is free
            # from the previous stage's manifest); explicit config values
            # pass through
            knobs = resolve_blocking_knobs(
                json_rows(self, split_src),
                num_hashes=cfg.num_hashes,
                bands=cfg.bands,
                max_bucket_size=(
                    cfg.max_bucket_size
                    if cfg.max_bucket_size is not None
                    else _UNSET
                ),
                min_shared_bands=cfg.min_shared_bands,
            )
            keyed = docs.select("doc_id", F.col(text).alias("key"))
            bands = minhash_bands_mapside(
                keyed, num_hashes=knobs["num_hashes"], bands=knobs["bands"],
            )
            # MEASURED pair-budget gate on auto-resolved safety knobs: the
            # doc-count regimes cannot see band-key concentration (this
            # generator's corpus puts 22% of docs behind one band key at
            # ANY size — the 124k-doc post-mortem in BASELINE.md emitted
            # 421M pairs under the permissive cap and spilled 79 GB).
            # Explicit config knobs skip the gate: they are a contract.
            gated = cfg.max_bucket_size is None and cfg.min_shared_bands is None
            knob_stats: dict = {}
            cands = candidates_from_bands(
                bands, None,
                max_bucket_size=knobs["max_bucket_size"],
                min_shared_bands=knobs["min_shared_bands"],
                emit_both=False,
                pair_budget=adaptive.CANDIDATE_PAIR_BUDGET if gated else None,
                budget_stats=knob_stats,
            )
            if gated:
                knobs.update(
                    max_bucket_size=knob_stats["max_bucket_size"],
                    min_shared_bands=knob_stats["min_shared_bands"],
                )
            model = fit_idf_mapside(keyed, "key")
            packed = vectorize_packed_mapside(model, keyed, "key",
                                              compact=True)
            pairs = score_candidates_packed(cands, packed, packed).where(
                F.col("sim") >= F.lit(cfg.dup_threshold)
            )
            split_df = leakage_safe_split(
                docs, pairs,
                train_frac=cfg.train_frac, salt=cfg.split_salt,
            )
            self._checkpoint(
                "split", split_df,
                metrics={
                    "n_train": F.sum(
                        (F.col("split") == "train").cast("bigint")
                    ),
                },
            )
            self._amend_manifest("split", {
                "n_test":
                    json_rows(self, "split")
                    - json_manifest(self, "split")["n_train"],
                "blocking_knobs": knobs,
                "pair_budget_gate": knob_stats,
            })

        if not self.is_complete("final"):
            sp = self.read("split")
            # rolling token-hash keys: no gram strings on either side (the
            # train side is the 100 TB side; evidence grams, when wanted,
            # come from ngram_contamination on the flagged subset)
            contaminated = contaminated_ids(
                sp.where("split = 'train'"),
                sp.where("split = 'test'"),
                n=cfg.decontam_n,
                text_col=text,
                id_col="doc_id",
            ).select("doc_id")
            self._checkpoint("final", sp.join(contaminated, "doc_id", "left_anti"))
            self._amend_manifest("final", {
                "test_rows_decontaminated":
                    json_rows(self, "split") - json_rows(self, "final"),
            })

        return {
            s: json.loads(self._manifest(s).read_text()) for s in self.STAGES
        }


def json_rows(plan: CheckpointedPlan, stage: str) -> int:
    """Row count of a completed stage, read from its manifest (free — no
    Spark job)."""
    return int(json.loads(plan._manifest(stage).read_text())["rows"])


def json_manifest(plan: CheckpointedPlan, stage: str) -> dict:
    """Full manifest of a completed stage (free — no Spark job)."""
    return json.loads(plan._manifest(stage).read_text())
