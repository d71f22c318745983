"""Evaluation metrics (operators A4, A6 + north-rule pairwise F1).

Reference: ``/root/reference/polyfuzz/metrics.py:39-53`` — threshold sweep
producing (min_precision, recall, average_precision); length contract
``int(1/step)+1`` rows (``tests/test_metrics.py:20-27``). Pairwise F1 on
labeled candidate pairs is the BASELINE.json acceptance metric.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions.milli import ratio_milli


def precision_recall_curve(
    matches: DataFrame, precision_step: float = 0.01
) -> DataFrame:
    """(min_precision, recall, average_precision), one row per threshold
    0.0..1.0. recall = |sim ≥ t| / |matches|; average_precision =
    mean(sim | sim ≥ t) (NULL when the selection is empty — the reference
    emits NaN via a suppressed numpy warning).

    Single crossJoin of the (tiny, broadcast) threshold table against the
    similarity column; one shuffle for the groupBy."""
    spark = matches.sparkSession
    n = int(1 / precision_step)
    ths = spark.range(n + 1).select(
        (F.col("id") * F.lit(precision_step)).alias("min_precision")
    )
    sims = matches.select(F.col("similarity").alias("sim"))
    hit = F.when(F.col("sim") >= F.col("min_precision"), F.col("sim"))
    return (
        sims.crossJoin(F.broadcast(ths))
        .groupBy("min_precision")
        .agg(
            (F.count(hit) / F.count(F.lit(1))).alias("recall"),
            F.avg(hit).alias("average_precision"),
        )
        .orderBy("min_precision")
    )


def score_distribution(sim_col: str = "sim") -> list[Column]:
    """A6 — the per-stage score distribution written next to each
    checkpoint, as aggregate columns: ``df.agg(*score_distribution(c))``
    computes it over a table, and the stage checkpoint collects it during
    its own write job through ``observe``."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.avg(sim_col).alias("mean"),
        F.min(sim_col).alias("min"),
        F.max(sim_col).alias("max"),
        F.percentile_approx(
            sim_col, F.array(*[F.lit(x) for x in (0.5, 0.9, 0.99)])
        ).alias("p50_p90_p99"),
    ]


def pairwise_f1(
    candidates: DataFrame,
    labels: DataFrame,
    assignments: DataFrame,
) -> dict:
    """Pairwise precision/recall/F1 on labeled candidate pairs (pairs that
    share a blocking key — the BASELINE metric scope).

    candidates: (from_id, to_id)      — from blocking
    labels:     (doc_id, entity_id)   — ground truth (evaluation only)
    assignments:(doc_id, cluster_id)  — pipeline output

    A pair is positive when entity_ids match; predicted-positive when both
    sides landed in the same cluster.

    Cluster equality prefers the AUTHORITATIVE representative
    (``rep_doc_id``, carried by the pipeline's clusters artifact) over the
    64-bit ``cluster_id`` digest whenever it is present — a digest
    collision (p ≈ n²/2⁶⁵) would count two distinct clusters as one here;
    the representative cannot (see functions/ids.py collision semantics).
    """
    ckey = (
        "rep_doc_id" if "rep_doc_id" in assignments.columns else "cluster_id"
    )
    cand = (
        candidates.where(F.col("from_id") < F.col("to_id"))
        .select("from_id", "to_id")
        .distinct()
    )
    lab = lambda side: labels.select(
        F.col("doc_id").alias(side), F.col("entity_id").alias(f"e_{side}")
    )
    asg = lambda side: assignments.select(
        F.col("doc_id").alias(side), F.col(ckey).alias(f"c_{side}")
    )
    scored = (
        cand.join(lab("from_id"), "from_id")
        .join(lab("to_id"), "to_id")
        .join(asg("from_id"), "from_id", "left")
        .join(asg("to_id"), "to_id", "left")
        .select(
            (F.col("e_from_id") == F.col("e_to_id")).alias("actual"),
            (
                F.col("c_from_id").isNotNull()
                & (F.col("c_from_id") == F.col("c_to_id"))
            ).alias("predicted"),
        )
    )
    row = scored.agg(
        F.count(F.when(F.col("actual") & F.col("predicted"), 1)).alias("tp"),
        F.count(F.when(~F.col("actual") & F.col("predicted"), 1)).alias("fp"),
        F.count(F.when(F.col("actual") & ~F.col("predicted"), 1)).alias("fn"),
        F.count(F.lit(1)).alias("n_pairs"),
    ).collect()[0]
    tp, fp, fn = row.tp, row.fp, row.fn
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return {
        "tp": tp, "fp": fp, "fn": fn, "n_pairs": row.n_pairs,
        "precision": precision, "recall": recall, "f1": f1,
    }


def blocking_quality(
    candidates: DataFrame,
    truth: DataFrame,
    n_records,
) -> DataFrame:
    """Blocking-scheme evaluation — the classic indexing triple from the
    record-linkage literature (Christen, "A Survey of Indexing Techniques
    for Scalable Record Linkage and Deduplication", TKDE 2012):

      reduction ratio     RR = 1 − |candidates| / (n·(n−1)/2)
      pairs completeness  PC = |truth ∩ candidates| / |truth|   (blocking recall)
      pairs quality       PQ = |truth ∩ candidates| / |candidates|

    ``candidates`` and ``truth`` are pair tables (from_id, to_id); both are
    canonically oriented (min, max) and deduped here, so callers may pass
    either orientation. ``n_records`` is the record count (int) or a
    one-row DataFrame with column ``n``.

    Ratios are emitted by the count-ratio rule of ``functions.milli`` for
    engine-exact comparison; a zero denominator yields NULL (no truth
    pairs → PC undefined, not 0). One row out.

    Scale shape: two map-side-combined counts + one left-semi equi-join on
    the pair key — never touches the n² pair space, so evaluating a
    blocking scheme costs O(|candidates| + |truth|) regardless of corpus
    size. Fully declarative (no driver collect): usable as a streaming
    foreachBatch audit as well as a batch query.
    """
    spark = candidates.sparkSession

    def orient(df: DataFrame) -> DataFrame:
        return df.select(
            F.least("from_id", "to_id").alias("from_id"),
            F.greatest("from_id", "to_id").alias("to_id"),
        ).distinct()

    cand = orient(candidates)
    tru = orient(truth)
    c = cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    t = tru.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    h = tru.join(cand, ["from_id", "to_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_true_in_candidates")
    )
    if isinstance(n_records, DataFrame):
        d = n_records.select(F.col("n").cast("bigint").alias("n_records"))
    else:
        d = spark.range(1).select(
            F.lit(int(n_records)).cast("bigint").alias("n_records")
        )

    # double, not bigint: n·(n−1)/2 overflows int64 past ~4.3e9 records,
    # and the ratio is consumed at milli precision anyway
    total = (
        F.col("n_records").cast("double")
        * (F.col("n_records").cast("double") - 1)
        / 2
    )
    return (
        c.crossJoin(t).crossJoin(h).crossJoin(d)
        .select(
            "n_records",
            "n_candidate_pairs",
            "n_true_pairs",
            "n_true_in_candidates",
            ratio_milli(total - F.col("n_candidate_pairs"), total)
            .alias("reduction_ratio_milli"),
            ratio_milli("n_true_in_candidates", "n_true_pairs")
            .alias("pairs_completeness_milli"),
            ratio_milli("n_true_in_candidates", "n_candidate_pairs")
            .alias("pairs_quality_milli"),
        )
    )


def bcubed(
    assignments: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    label_col: str = "label",
) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) — the standard
    per-record clustering evaluation alongside pairwise F1: for each
    record, precision = |cluster ∩ its label's records| / |cluster| and
    recall = the same intersection over the label size, averaged over all
    records.

    Emitted in EXACT INTEGER MICRO units (house integer-exactness rule —
    float averaging sums in partition order, which is not reproducible
    across engines): per (cluster, label) cell, the identity
    Σ_records m/|C| = Σ_cells m²/|C| is computed as
    ``(m·m·1_000_000) DIV cell_denominator`` — integer division both
    engines implement identically — then summed (integers, order-free)
    and divided by N. Each DIV floors ≤1 micro per cell; the contract IS
    this quantized definition, mirrored verbatim in the SQL twin.

    One join + three map-side-combined aggs; nothing driver-side. One row:
    (n_records, bcubed_precision_micro, bcubed_recall_micro,
    bcubed_f1_micro).
    """
    m = assignments.select(
        F.col(id_col), F.col(cluster_col).alias("_c")
    ).join(
        labels.select(F.col(id_col), F.col(label_col).alias("_l")), id_col
    )
    cells = m.groupBy("_c", "_l").agg(
        F.count(F.lit(1)).cast("bigint").alias("_m")
    )
    csz = m.groupBy("_c").agg(F.count(F.lit(1)).cast("bigint").alias("_cn"))
    lsz = m.groupBy("_l").agg(F.count(F.lit(1)).cast("bigint").alias("_ln"))
    terms = (
        cells.join(csz, "_c")
        .join(lsz, "_l")
        .select(
            F.expr("(_m * _m * 1000000) DIV _cn").alias("_tp"),
            F.expr("(_m * _m * 1000000) DIV _ln").alias("_tr"),
            "_m",
        )
    )
    agg = terms.agg(
        F.sum("_tp").alias("_sp"),
        F.sum("_tr").alias("_sr"),
        F.sum("_m").cast("bigint").alias("n_records"),
    )
    # F1 guarded: when both micro precision and recall floor to 0 (or the
    # input is empty so n_records = 0) the denominator is 0 — NULL under
    # default Spark but a DIVIDE_BY_ZERO error under ansi mode; emit 0
    # explicitly, mirrored in the SQL twin
    return agg.select(
        "n_records",
        F.expr(
            "CASE WHEN n_records > 0 THEN _sp DIV n_records ELSE NULL END"
        ).alias("bcubed_precision_micro"),
        F.expr(
            "CASE WHEN n_records > 0 THEN _sr DIV n_records ELSE NULL END"
        ).alias("bcubed_recall_micro"),
        F.expr(
            "CASE WHEN n_records > 0 "
            "AND (_sp DIV n_records) + (_sr DIV n_records) > 0 THEN "
            "(2 * (_sp DIV n_records) * (_sr DIV n_records)) "
            "DIV ((_sp DIV n_records) + (_sr DIV n_records)) "
            "WHEN n_records > 0 THEN 0 ELSE NULL END"
        ).alias("bcubed_f1_micro"),
    )


def fs_field_stats(
    pairs: DataFrame,
    label_col: str,
    agreement_cols: list[str],
) -> DataFrame:
    """Fellegi–Sunter parameter estimation (Fellegi & Sunter, JASA 1969):
    from LABELED pairs with per-field boolean agreement columns, the
    m-probability (P(field agrees | match)) and u-probability
    (P(agrees | non-match)) per field — the inputs the FS linear/log
    weights are derived from, here ESTIMATED from data rather than
    hand-set. One row per field:
    (field, n_match, n_nonmatch, m_milli, u_milli).

    Probabilities by the count-ratio rule of ``functions.milli``; zero
    denominators yield NULL. One map-side-combined aggregation over the
    pair table builds every counter; the per-field long form comes from a
    constant-width stack of the one aggregate row — nothing scales with
    pair count but the single agg.
    """
    lbl = F.col(label_col)
    aggs = [
        F.count(F.when(lbl, 1)).cast("bigint").alias("_nm"),
        F.count(F.when(~lbl, 1)).cast("bigint").alias("_nu"),
    ]
    for c in agreement_cols:
        aggs.append(
            F.count(F.when(lbl & F.col(c), 1)).cast("bigint").alias(f"_m_{c}")
        )
        aggs.append(
            F.count(F.when(~lbl & F.col(c), 1)).cast("bigint")
            .alias(f"_u_{c}")
        )
    one = pairs.agg(*aggs)
    stacked = one.select(
        "_nm",
        "_nu",
        F.expr(
            "stack({n}, {args}) AS (field, _ma, _ua)".format(
                n=len(agreement_cols),
                args=", ".join(
                    f"'{c}', _m_{c}, _u_{c}" for c in agreement_cols
                ),
            )
        ),
    )
    return stacked.select(
        "field",
        F.col("_nm").alias("n_match"),
        F.col("_nu").alias("n_nonmatch"),
        ratio_milli("_ma", "_nm").alias("m_milli"),
        ratio_milli("_ua", "_nu").alias("u_milli"),
    )


def adjusted_rand_index(
    assignments: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    label_col: str = "label",
) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) between a clustering and
    ground-truth labels, in EXACT INTEGER MICRO units: with
    I = Σ_cells C(n_ij,2), A = Σ_clusters C(a_i,2), B = Σ_labels C(b_j,2),
    C = C(n,2), the chance-adjusted identity clears its denominators into
    a ratio of INTEGERS:

        ari_micro = (2·10⁶·(C·I − A·B)) DIV (C·(A+B) − 2·A·B)

    No float expected-index anywhere — all products run in DECIMAL(38,0)
    on the engine side (HUGEINT in the DuckDB twin), exact up to ~1e8
    evaluation records, and both engines truncate integer division toward
    zero (probed), so negative ARIs quantize identically. A degenerate
    denominator (one cluster AND one label covering everything) yields
    NULL. One join + three map-side-combined aggs; one row:
    (n_records, ari_micro).
    """
    m = assignments.select(
        F.col(id_col), F.col(cluster_col).alias("_c")
    ).join(
        labels.select(F.col(id_col), F.col(label_col).alias("_l")), id_col
    )
    # integer arithmetic end-to-end: c·(c−1) is always even so halving by
    # shiftright is exact at any bigint count, unlike float /2 + a
    # truncating cast which drifts by one once c·(c−1) exceeds 2^53
    # (c ≈ 9.5e7, just under the docstring's exactness bound)
    c2 = lambda c: F.shiftright(
        (c.cast("bigint") * (c.cast("bigint") - 1)), 1
    )
    cells = m.groupBy("_c", "_l").agg(F.count(F.lit(1)).alias("_n"))
    i_sum = cells.agg(F.sum(c2(F.col("_n"))).alias("I"))
    a_sum = (
        m.groupBy("_c").agg(F.count(F.lit(1)).alias("_a"))
        .agg(F.sum(c2(F.col("_a"))).alias("A"))
    )
    b_sum = (
        m.groupBy("_l").agg(F.count(F.lit(1)).alias("_b"))
        .agg(F.sum(c2(F.col("_b"))).alias("B"))
    )
    n_tot = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
    joined = i_sum.crossJoin(a_sum).crossJoin(b_sum).crossJoin(n_tot)
    dec = "CAST({x} AS DECIMAL(38,0))"
    C = dec.format(x="n_records * (n_records - 1) DIV 2")
    num = (f"2000000 * ({C} * {dec.format(x='I')} "
           f"- {dec.format(x='A')} * {dec.format(x='B')})")
    den = (f"{C} * ({dec.format(x='A')} + {dec.format(x='B')}) "
           f"- 2 * {dec.format(x='A')} * {dec.format(x='B')}")
    return joined.select(
        "n_records",
        F.when(
            F.expr(den) != 0, F.expr(f"({num}) DIV ({den})")
        ).cast("bigint").alias("ari_micro"),
    )


def cluster_churn(
    old_assignments: DataFrame,
    new_assignments: DataFrame,
    id_col: str = "doc_id",
    rep_col: str = "rep",
) -> DataFrame:
    """Stability of a clustering across a maintenance step — the
    monitoring signal for incremental linkage: over the union universe of
    both tables (a key absent from one side is a singleton of itself
    there), how many records changed cluster, and how the cluster count
    moved. One row: (n_records, n_moved, churn_milli, n_clusters_old,
    n_clusters_new); churn_milli = n_moved / n_records by the count-ratio
    rule of ``functions.milli``; one full-outer equi-join + one agg.
    """
    o = old_assignments.select(
        F.col(id_col).alias("_k"), F.col(rep_col).alias("_or")
    )
    n = new_assignments.select(
        F.col(id_col).alias("_k"), F.col(rep_col).alias("_nr")
    )
    u = o.join(n, "_k", "full_outer").select(
        F.coalesce("_or", F.col("_k")).alias("_eo"),
        F.coalesce("_nr", F.col("_k")).alias("_en"),
    )
    agg = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        F.count(F.when(F.col("_eo") != F.col("_en"), 1))
        .cast("bigint").alias("n_moved"),
        F.countDistinct("_eo").cast("bigint").alias("n_clusters_old"),
        F.countDistinct("_en").cast("bigint").alias("n_clusters_new"),
    )
    return agg.select(
        "n_records",
        "n_moved",
        ratio_milli("n_moved", "n_records").alias("churn_milli"),
        "n_clusters_old",
        "n_clusters_new",
    )
