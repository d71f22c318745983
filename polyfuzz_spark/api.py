"""PolyFuzz-shaped facade over the Spark engine.

Mirrors the reference public API (``/root/reference/polyfuzz/polyfuzz.py``):
``match / fit / transform / fit_transform / group / get_matches /
get_clusters / get_cluster_mappings / save / load`` — but every verb is a
DataFrame pipeline. List inputs are accepted for reference-parity tests and
become single-partition DataFrames; real workloads pass DataFrames.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.ids import content_id128
from .matchers import BaseSparkMatcher, EmbeddingMatcher, TFIDFMatcher


def lists_to_df(spark: SparkSession, strings: Iterable[str],
                n_partitions: int | None = None) -> DataFrame:
    """(doc_id, key) with doc_id = list position (parity joins are by id,
    never by row order — Spark has no row order). Built from a pandas
    frame through Arrow, which scans faster than a frame of Python row
    tuples."""
    pdf = pd.DataFrame({"key": pd.Series(list(strings), dtype="object")})
    df = spark.createDataFrame(pdf.rename_axis("doc_id").reset_index(),
                               "doc_id long, key string")
    return df.repartition(n_partitions) if n_partitions else df


def score_pairs(
    pairs: DataFrame,
    scorer: str = "WRatio",
    a_col: str = "key_a",
    b_col: str = "key_b",
    cfg=None,
) -> DataFrame:
    """Score EXPLICIT string pairs — the labeled-pair evaluation verb: a
    pair table (e.g. labeled candidate pairs at the same blocking key) gains
    a ``similarity`` column in [0, 1] (rounded to 3 decimals), all other
    columns untouched. The reference has no such verb (its evaluation runs
    through match tables); this is the engine verb that feeds pairwise
    F1-style checks on pre-paired data.

    ``scorer``: any ``scorers.kernels`` name (``"WRatio"``, ``"ratio"``,
    ``"jaro_winkler"``, ``"levenshtein_sim"``, …) — one vectorized pandas
    UDF over Arrow batches — or ``"TF-IDF"``: char-n-gram cosine under a
    model fitted on the pair table's DISTINCT strings (documented
    divergence from ``match()``, which fits on the multiset union of its
    two input lists; a pair table has no natural multiset). Gram-less
    strings (shorter than the n-gram window after cleaning) score 0.0
    under TF-IDF.

    Scale shape (TF-IDF): distinct strings → map-side fit + packed
    vectorize → ``score_candidates_packed`` over string-hash ids — the same
    blocked-scoring kernel as the ER pipeline; no crossJoin, no driver
    collect beyond the ≤|vocab| IDF table.
    """
    if scorer in ("TF-IDF", "TFIDF"):
        from .operators.cosine_join import score_candidates_packed
        from .operators.mapside import (
            fit_idf_mapside,
            vectorize_packed_mapside,
        )

        strings = (
            pairs.select(F.col(a_col).alias("key"))
            .unionByName(pairs.select(F.col(b_col).alias("key")))
            .where(F.col("key").isNotNull())
            .distinct()
        )
        # 128-bit ids: a 64-bit xxhash64 silently fuses two distinct keys
        # at corpus scale (functions/ids.py) — and these ids ARE the join
        # identity for the score attach below
        docs = strings.select(content_id128("key").alias("doc_id"), "key")
        model = fit_idf_mapside(docs, "key", cfg)
        packed = vectorize_packed_mapside(model, docs, "key").localCheckpoint(
            eager=True
        )
        cand = pairs.select(
            content_id128(a_col).alias("from_id"),
            content_id128(b_col).alias("to_id"),
        ).distinct()
        scored = score_candidates_packed(cand, packed, packed)
        return (
            pairs.withColumn("from_id", content_id128(a_col))
            .withColumn("to_id", content_id128(b_col))
            .join(scored, ["from_id", "to_id"], "left")
            .withColumn(
                "similarity", F.round(F.coalesce("sim", F.lit(0.0)), 3)
            )
            .drop("from_id", "to_id", "sim")
        )
    from .scorers.editdistance import (
        UNIT_SCALE_KERNELS,
        pair_scorer_udf,
        validate_kernel,
    )

    udf = pair_scorer_udf(validate_kernel(scorer))
    raw = udf(F.col(a_col), F.col(b_col))
    # percent kernels normalize to [0,1]; unit-scale kernels (monge_elkan)
    # already are — dividing them by 100 would silently squash the score
    sim = raw if scorer in UNIT_SCALE_KERNELS else raw / 100.0
    return pairs.withColumn("similarity", F.round(sim, 3))


def _default_matcher(method, top_n: int) -> BaseSparkMatcher:
    # dispatch table mirrors reference polyfuzz.py:123-152
    if isinstance(method, BaseSparkMatcher):
        return method
    if method in ("TF-IDF", "TFIDF"):
        return TFIDFMatcher(min_similarity=0, top_n=top_n)
    if method == "EditDistance":
        from .scorers.editdistance import RapidFuzzMatcher

        return RapidFuzzMatcher()
    if method == "Embeddings":
        return EmbeddingMatcher(min_similarity=0, top_n=top_n)
    raise ValueError(
        "Please choose one of: 'TF-IDF', 'EditDistance', 'Embeddings', "
        "or a BaseSparkMatcher instance"
    )


class PolyFuzzSpark:
    """Drop-in-shaped replacement for ``polyfuzz.PolyFuzz`` on Spark."""

    def __init__(self, method="TF-IDF", spark: SparkSession | None = None):
        from .session import get_spark

        self.spark = spark or get_spark()
        self.method = method
        self.matches: dict[str, DataFrame] = {}
        self.clusters: dict[str, DataFrame] = {}
        self._matchers: dict[str, BaseSparkMatcher] = {}
        self._fit_to = None
        # per-model to-side of the last match() — wide-format parity needs
        # the distinct-to count to clamp top_n (reference _utils.py:54-56);
        # None marks a self-match, where the reference does not clamp
        self._match_to: dict[str, DataFrame | None] = {}

    # ------------------------------------------------------------- match
    def match(self, from_list, to_list=None, top_n: int = 1) -> "PolyFuzzSpark":
        from_df = self._as_df(from_list)
        to_df = self._as_df(to_list) if to_list is not None else None
        methods = self.method if isinstance(self.method, list) else [self.method]
        seen: dict[str, int] = {}
        for m in methods:
            matcher = _default_matcher(m, top_n)
            mid = matcher.model_id
            if mid in seen:  # id dedup, reference polyfuzz.py:486-497
                seen[mid] += 1
                mid = f"{mid}_{seen[mid]}"
            else:
                seen[mid] = 0
            self._matchers[mid] = matcher
            self.matches[mid] = matcher.match_df(from_df, to_df)
            self._match_to[mid] = to_df
        return self

    def get_matches(self, model_id: str | None = None):
        if model_id:
            return self.matches[model_id]
        if len(self.matches) == 1:
            return next(iter(self.matches.values()))
        return self.matches

    def get_ids(self):
        """Model ids of the stored match tables (reference
        polyfuzz.py:375-383)."""
        if not self.matches:
            raise ValueError("Make sure to run .match() first")
        return list(self.matches.keys())

    # --------------------------------------------------------------- group
    def group(self, model=None, link_min_similarity: float = 0.75,
              group_all_strings: bool = False) -> "PolyFuzzSpark":
        """Cluster the matched To-strings (reference polyfuzz.py:331-373).

        Distinct non-null To (or From when group_all_strings, matching
        reference polyfuzz.py:468-471) →
        self-match with the grouper → edges sim > threshold → transitive
        closure (documented upgrade over the reference's order-dependent
        single pass, see operators/linkage.py) → Group column.

        ``model`` accepts a matcher instance OR a name string
        ("TF-IDF"/"EditDistance"/"Embeddings") like the reference
        (polyfuzz.py:352-369 — whose own string dispatch tests
        ``self.method`` instead of ``model`` and is partly unreachable; we
        implement the documented intent).
        """
        if not self.matches:
            raise ValueError("Make sure to run .match() first")
        from .operators.grouping import add_groups

        if model is None:
            grouper = TFIDFMatcher(
                n_gram_range=(3, 3), min_similarity=link_min_similarity
            )
        elif isinstance(model, str):
            if model in ("TF-IDF", "TFIDF"):
                grouper = TFIDFMatcher(
                    n_gram_range=(3, 3), min_similarity=link_min_similarity
                )
            elif model == "EditDistance":
                from .scorers.editdistance import RapidFuzzMatcher

                grouper = RapidFuzzMatcher()
            elif model == "Embeddings":
                # grouping re-matches bare To-strings, so an embedding
                # grouper needs an encode step (the reference's Flair/SBERT
                # encoder plug, _embeddings.py:34-60). The string form is
                # honored when a fitted EmbeddingMatcher with an encoder is
                # available to reuse; otherwise fail clearly instead of
                # deep in the plan.
                cand = [
                    m for m in self._matchers.values()
                    if isinstance(m, EmbeddingMatcher) and m.encoder is not None
                ]
                if cand:
                    grouper = EmbeddingMatcher(
                        min_similarity=link_min_similarity,
                        encoder=cand[0].encoder,
                        lsh_conf=cand[0].lsh_conf,
                    )
                else:
                    raise ValueError(
                        "the 'Embeddings' grouper needs an encode step: "
                        "pass an EmbeddingMatcher(encoder=...) instance "
                        "(or match with one first), where encoder is a "
                        "DataFrame -> DataFrame adding the 'embedding' "
                        "column"
                    )
            else:
                raise ValueError(
                    "Please choose one of: 'TF-IDF', 'EditDistance', "
                    "'Embeddings', or a BaseSparkMatcher instance"
                )
        else:
            grouper = model
        for mid, matches in list(self.matches.items()):
            grouped, assignments = add_groups(
                matches, grouper, link_min_similarity, group_all_strings
            )
            self.matches[mid] = grouped
            self.clusters[mid] = assignments
        return self

    def get_clusters(self, model_id: str | None = None):
        if not self.clusters:
            raise ValueError("Make sure to run .group() first")
        if model_id:
            return self.clusters[model_id]
        if len(self.clusters) == 1:
            return next(iter(self.clusters.values()))
        return self.clusters

    def get_cluster_mappings(self, model_id: str | None = None):
        """(key, cluster_id) mapping DataFrame(s) — the reference's
        ``get_cluster_mappings`` dict (polyfuzz.py:416-427) as a table;
        ``.toPandas()`` restores the dict shape for parity tests."""
        if not self.clusters:
            raise ValueError("Make sure to run .group() first")

        def _map(df: DataFrame) -> DataFrame:
            return df.select("key", "cluster_id")

        if model_id:
            return _map(self.clusters[model_id])
        if len(self.clusters) == 1:
            return _map(next(iter(self.clusters.values())))
        return {mid: _map(df) for mid, df in self.clusters.items()}

    def visualize_precision_recall(self, precision_step: float = 0.01,
                                   save_path: str | None = None):
        """Reference ``visualize_precision_recall`` (polyfuzz.py:286-329,
        metrics.py:56-142): threshold-sweep PR curve over the stored
        matches. The DATA is computed in Spark (metrics.
        precision_recall_curve — A4) and always returned as pandas
        (columns min_precision, recall, average_precision; one frame, or a
        dict per model id). Plotting runs only when matplotlib is
        importable (not in this sandbox — the engine ships data, not
        figures); ``save_path`` writes the figure when it is."""
        if not self.matches:
            raise ValueError("Make sure to run .match() first")
        from .metrics import precision_recall_curve

        curves = {
            mid: precision_recall_curve(df, precision_step).toPandas()
            for mid, df in self.matches.items()
        }
        try:
            import matplotlib.pyplot as plt  # pragma: no cover
        except ImportError:
            plt = None
        if plt is not None:  # pragma: no cover - sandbox has no matplotlib
            for mid, pdf in curves.items():
                plt.plot(pdf["min_precision"], pdf["recall"], label=mid)
            plt.xlabel("min precision")
            plt.ylabel("recall")
            plt.legend()
            if save_path:
                plt.savefig(save_path)
        if len(curves) == 1:
            return next(iter(curves.values()))
        return curves

    # ----------------------------------------------------- fit/transform
    def fit(self, from_list, to_list=None) -> "PolyFuzzSpark":
        self.match(from_list, to_list)
        self._fit_to = to_list if to_list is not None else from_list
        return self

    def transform(self, from_list) -> dict[str, DataFrame]:
        if not self._matchers:
            raise ValueError("Make sure to run .fit() first")
        from_df = self._as_df(from_list)
        to_df = self._as_df(self._fit_to)
        out = {}
        for mid, matcher in self._matchers.items():
            out[matcher.type] = matcher.match_df(from_df, to_df, re_train=False)
        return out

    def fit_transform(self, from_list, to_list=None) -> dict[str, DataFrame]:
        self.fit(from_list, to_list)
        return self.transform(from_list)

    # ----------------------------------------------------------- save/load
    @staticmethod
    def _matcher_config(matcher) -> dict:
        """Full fitted configuration for the manifest — every matcher type
        round-trips its knobs (the reference joblib-pickles whole objects,
        polyfuzz.py:429-457; ADVICE r01: a lossy restore silently changes
        transform() results after load)."""
        from .scorers.editdistance import EditDistanceMatcher, RapidFuzzMatcher

        if isinstance(matcher, TFIDFMatcher):
            return {
                "class": "TFIDFMatcher",
                "min_similarity": matcher.min_similarity,
                "top_n": matcher.top_n,
                "n_gram_range": list(matcher.cfg.n_gram_range),
                "clean_string": matcher.cfg.clean_string,
                "remove_space_ngrams": matcher.cfg.remove_space_ngrams,
                "use_blocking": matcher.use_blocking,
                "blocking_conf": matcher.blocking_conf,
            }
        if isinstance(matcher, EmbeddingMatcher):
            return {
                "class": "EmbeddingMatcher",
                "min_similarity": matcher.min_similarity,
                "top_n": matcher.top_n,
                "lsh_conf": matcher.lsh_conf,
                # Python callables don't round-trip a JSON manifest; the
                # flag makes the loss visible — re-attach after load() to
                # serve raw-string (encoder) inputs again
                "has_encoder": matcher.encoder is not None,
            }
        if isinstance(matcher, RapidFuzzMatcher):
            return {
                "class": "RapidFuzzMatcher",
                "score_cutoff": matcher.score_cutoff,
                "scorer": matcher.scorer,
                "top_n": matcher.top_n,
                "use_blocking": matcher.use_blocking,
                "blocking_conf": matcher.blocking_conf,
            }
        if isinstance(matcher, EditDistanceMatcher):
            return {
                "class": "EditDistanceMatcher",
                "scorer": matcher.scorer,
                "normalize": matcher.normalize,
                "use_blocking": matcher.use_blocking,
                "blocking_conf": matcher.blocking_conf,
            }
        raise NotImplementedError(
            f"save() cannot round-trip custom matcher type "
            f"{type(matcher).__name__}; persist its state explicitly"
        )

    @staticmethod
    def _matcher_from_config(cfg: dict, model_id: str):
        from .scorers.editdistance import EditDistanceMatcher, RapidFuzzMatcher

        cls = cfg["class"]
        if cls == "TFIDFMatcher":
            return TFIDFMatcher(
                model_id=model_id,
                min_similarity=cfg["min_similarity"],
                top_n=cfg["top_n"],
                n_gram_range=tuple(cfg["n_gram_range"]),
                clean_string=cfg["clean_string"],
                remove_space_ngrams=cfg["remove_space_ngrams"],
                use_blocking=cfg["use_blocking"],
                blocking_conf=cfg.get("blocking_conf") or None,
            )
        if cls == "EmbeddingMatcher":
            return EmbeddingMatcher(
                model_id=model_id,
                min_similarity=cfg["min_similarity"],
                top_n=cfg["top_n"],
                lsh_conf=cfg.get("lsh_conf"),
            )
        if cls == "RapidFuzzMatcher":
            return RapidFuzzMatcher(
                model_id=model_id,
                score_cutoff=cfg["score_cutoff"],
                scorer=cfg["scorer"],
                top_n=cfg["top_n"],
                use_blocking=cfg.get("use_blocking"),
                blocking_conf=cfg.get("blocking_conf"),
            )
        if cls == "EditDistanceMatcher":
            return EditDistanceMatcher(
                model_id=model_id,
                scorer=cfg["scorer"],
                normalize=cfg["normalize"],
                use_blocking=cfg.get("use_blocking"),
                blocking_conf=cfg.get("blocking_conf"),
            )
        raise ValueError(f"unknown matcher class in manifest: {cls!r}")

    def save(self, path: str) -> None:
        """Persist fitted state (reference polyfuzz.py:429-441 — joblib
        pickle → parquet + JSON manifest here). Saves every matcher's full
        configuration, each fitted TF-IDF model, and the golden to-list."""
        import json
        from pathlib import Path

        from .operators.tfidf import save_model

        p = Path(path)
        p.mkdir(parents=True, exist_ok=True)
        manifest: dict = {"matchers": [], "format_version": 2}
        for mid, matcher in self._matchers.items():
            entry = {
                "model_id": mid,
                "type": matcher.type,
                "config": self._matcher_config(matcher),
            }
            model = getattr(matcher, "model", None)
            if model is not None:
                save_model(model, str(p / f"model_{mid}"))
                entry["model_path"] = f"model_{mid}"
            manifest["matchers"].append(entry)
        if getattr(self, "_fit_to", None) is not None:
            self._as_df(self._fit_to).write.mode("overwrite").parquet(
                str(p / "to_list")
            )
            manifest["has_to_list"] = True
        (p / "manifest.json").write_text(json.dumps(manifest))

    @classmethod
    def load(cls, path: str, spark: SparkSession | None = None
             ) -> "PolyFuzzSpark":
        """Restore a saved instance (reference polyfuzz.py:443-457); the
        fitted vocabulary/IDF is reused so transform() skips refitting."""
        import json
        from pathlib import Path

        from .operators.tfidf import load_model

        p = Path(path)
        manifest = json.loads((p / "manifest.json").read_text())
        inst = cls(spark=spark)
        methods = []
        for entry in manifest["matchers"]:
            if "config" in entry:  # format_version >= 2: full round-trip
                matcher = cls._matcher_from_config(
                    entry["config"], entry["model_id"]
                )
            elif entry["type"] == "TF-IDF":  # legacy manifests
                matcher = TFIDFMatcher(
                    model_id=entry["model_id"],
                    min_similarity=entry.get("min_similarity", 0.75),
                    top_n=entry.get("top_n", 1),
                )
            else:
                matcher = _default_matcher(entry["type"], 1)
            if "model_path" in entry and isinstance(matcher, TFIDFMatcher):
                matcher.model = load_model(
                    inst.spark, str(p / entry["model_path"])
                )
            inst._matchers[entry["model_id"]] = matcher
            methods.append(matcher)
        inst.method = methods if len(methods) > 1 else methods[0]
        if manifest.get("has_to_list"):
            to_df = inst.spark.read.parquet(str(p / "to_list"))
            inst._fit_to = to_df
            for matcher in inst._matchers.values():
                if isinstance(matcher, TFIDFMatcher) and matcher.model is not None:
                    matcher._to_df = to_df
        return inst

    # ------------------------------------------------------------ helpers
    def _as_df(self, data) -> DataFrame:
        if isinstance(data, DataFrame):
            return data
        return lists_to_df(self.spark, list(data))

    def matches_pandas(self, model_id: str | None = None) -> pd.DataFrame:
        """Wide From/To/Similarity[/To_k/Similarity_k][/Group] pandas frame,
        positionally ordered by from_id — the reference output shape
        (``_utils.py:104-124``), for parity tests only.

        Column count follows the reference's clamp (``_utils.py:54-56``):
        with an explicit to-list, ``top_n`` is clamped to the number of
        distinct to-strings, and To_k/Similarity_k columns exist for every
        k ≤ the clamped top_n — rows with no k-th match get
        ``To_k=None, Similarity_k=0.0`` (the reference's sub-epsilon
        nulling), never phantom columns beyond the clamp."""
        if model_id is None:
            if len(self.matches) != 1:
                raise ValueError("multiple models — pass model_id")
            model_id = next(iter(self.matches))
        df = self.matches[model_id]
        pdf = df.toPandas().sort_values(["from_id", "rank"])
        has_group = "group" in pdf.columns
        base = pdf[pdf["rank"] == 1].set_index("from_id")
        out = pd.DataFrame(
            {"From": base["from_key"], "To": base["to_key"],
             "Similarity": base["similarity"]}
        )
        # effective column width: requested top_n, clamped to the
        # distinct-to count when a to-list was given (self-match: the
        # reference skips the clamp; ranks ≤ distinct anyway)
        matcher = self._matchers.get(model_id)
        eff = int(getattr(matcher, "top_n", 1) or 1)
        to_df = self._match_to.get(model_id)
        if to_df is not None:
            eff = min(eff, to_df.select("key").distinct().count())
        for r in range(2, eff + 1):
            extra = pdf[pdf["rank"] == r].set_index("from_id")
            if len(extra):
                out[f"To_{r}"] = extra["to_key"]
                out[f"Similarity_{r}"] = extra["similarity"].reindex(
                    out.index
                ).fillna(0.0)
            else:
                out[f"To_{r}"] = None
                out[f"Similarity_{r}"] = 0.0
        if has_group:
            out["Group"] = base["group"]
        return out.sort_index().reset_index(drop=True)
