"""Transitive clustering: edge filter + iterative connected components
(operators G1-G3).

Reference: ``/root/reference/polyfuzz/linkage.py:5-53`` — a single ordered
pass over edges (single linkage) that is order-dependent, NOT a full
transitive closure (a From already mapped never pulls its To in), and breaks
on falsy keys (``""``). We deliberately implement true transitive closure
with deterministic representatives — a documented semantic upgrade mandated
by the north rule — and verify the reference's golden clusters still hold.

Algorithm: min-label propagation WITH pointer jumping. Initial labels
are one hop from self-labels, label(v) = min(v, min neighbour), from one
groupBy over the symmetrized edges; then per round:
    (jump)  label(v) ← label(label(v))
    (hop)   label(v) ← min(label(v), min_{(u,v)∈E} label(u))
The hop is one groupBy(node).min (map-side combinable, so hot nodes from
giant components partial-aggregate before the shuffle; AQE skew-join
splitting covers the join side). The jump joins the label table onto itself
— labels are always node keys, so the lookup lands — which halves the
remaining distance to the component minimum each round: O(log diameter)
rounds (a 1k-node path converges in ~10 rounds, not ~1000; pinned by
``tests/test_grouping.py::test_connected_components_path_graph_log_rounds``).
Jump and hop run as ONE plan per round, materialized by one
``localCheckpoint`` whose job also counts the changed labels (an
``Observation``), so the convergence test costs no job of its own and
plans don't grow with iteration count.

Labels ARE the min string key, so the converged label doubles as the
deterministic cluster representative (G3; divergence from the reference's
insertion-order representative is documented + tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def filter_edges(matches: DataFrame, min_similarity: float = 0.75) -> DataFrame:
    """G1 — strictly-greater threshold (reference linkage.py:25)."""
    return (
        matches.where(
            F.col("similarity") > F.lit(min_similarity)
        )
        .where(F.col("to_key").isNotNull())
        .select(
            F.col("from_key").alias("src"), F.col("to_key").alias("dst")
        )
    )


# edge-count budget for the driver union-find fast path: 1M edges of short
# string keys is ~100-200 MB on the driver — the same bounded-broadcast
# contract as ``dense_cosine.fits_broadcast``. Above it, the distributed
# pointer-doubling loop runs. Monkeypatchable in tests.
SMALL_GRAPH_MAX_EDGES = 1_000_000


def _components_driver(pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Union-find with path compression + union-to-min: the root of every
    component is its lexicographically smallest key. Python compares code
    points while Spark's string min compares UTF-16 code units — identical
    orders for BMP-only text, and this engine's keys are cleaned
    [a-z0-9 ] ASCII, so both tiers pick the same representative (pinned by
    test_driver_and_distributed_tiers_agree)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        for k in (a, b):
            if k not in parent:
                parent[k] = k
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(k, find(k)) for k in parent]


def connected_components(
    edges: DataFrame, max_iterations: int = 50, stats: dict | None = None
) -> DataFrame:
    """(key, representative) for every node reachable through edges.

    ``edges``: (src: string, dst: string). Returns ONLY nodes that appear in
    at least one edge (singletons are not clusters, matching the reference:
    unmatched strings never enter cluster_mapping).

    Size-adaptive: an edge set within ``SMALL_GRAPH_MAX_EDGES`` is solved by
    driver union-find in one pass — the iterative label loop pays about 9
    executed stages of scheduling overhead PER ROUND (92 for the 10 rounds
    of a 1,000-node path graph, raw and symmetrized edge checkpoints
    included), which dwarfs the actual work on match-graphs (near-dup
    components are tiny; the whole edge list is far smaller than the
    corpus that produced it). Larger graphs run the
    distributed min-label + pointer-jumping loop below, converging in
    O(log diameter) rounds. Both tiers produce identical (key,
    representative, cluster_id) rows (pinned by
    ``tests/test_grouping.py::test_driver_and_distributed_tiers_agree``).

    ``stats``: optional dict that receives {"iterations": n} — used by the
    convergence-bound tests (0 = driver tier).
    """
    spark = edges.sparkSession
    # materialize the RAW edge list once (no shuffle — checkpoint is pure
    # materialization); its count rides the same job through observe and
    # picks the tier. The symmetrize+distinct pass (two shuffles of the
    # edge list) is only built for the distributed tier: union-find is
    # idempotent under duplicate and reversed edges, so the driver tier
    # collects the raw list as-is. Raw count ≥ distinct count, so the
    # budget stays a conservative driver-memory bound.
    seen = Observation("cc_edges")
    raw = edges.observe(seen, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    n_edges = seen.get["n"]
    # both tiers drop null-keyed rows
    raw = raw.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if n_edges <= SMALL_GRAPH_MAX_EDGES:
        # Arrow transfer — ~10× cheaper than Row-object collect at the
        # budget ceiling
        pdf = raw.toPandas()
        pairs = list(zip(pdf["src"], pdf["dst"]))
        if stats is not None:
            stats["iterations"] = 0
        import pandas as pd

        # Arrow path (pandas in, not a list of tuples): at the 1M-edge
        # budget ceiling a tuple-list createDataFrame row-pickles on the
        # driver; the Arrow batch is ~10× cheaper both directions
        rows = _components_driver(pairs)
        out = spark.createDataFrame(
            pd.DataFrame(rows, columns=["key", "representative"]),
            "key string, representative string",
        )
        # collision semantics: cluster_id is a 64-bit DIGEST of the
        # representative, kept alongside the authoritative string key —
        # downstream grouping must use `representative` (or the pair);
        # a digest collision is recoverable from the carried value and
        # never merges identities inside this operator (which joins and
        # folds on the string keys only). See functions/ids.py for where
        # 128-bit ids are required instead.
        return out.select(
            "key",
            "representative",
            F.xxhash64("representative").alias("cluster_id"),
        )

    # distributed tier: symmetrize + dedup once (the label loop joins sym
    # per round, so the dedup pays for itself immediately)
    sym = raw.union(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)

    # size the iteration shuffles to the edge set: the driver loop pays
    # per-partition task overhead × iterations × jobs, so a small graph on a
    # large-session shuffle count (e.g. 64) spends more time scheduling than
    # propagating labels. Restored in the finally (an exception mid-loop
    # must not leave the whole session on 8 shuffle partitions).
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        base_parts = int(old_parts)
    except (TypeError, ValueError):  # e.g. "auto" under some AQE setups
        base_parts = spark.sparkContext.defaultParallelism
    cc_parts = max(8, min(base_parts, n_edges // 250_000 + 1))

    iterations = 0
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(cc_parts))
        # initial labels are the first hop from self-labels, in one
        # map-side-combinable groupBy: label(v) = min(v, min neighbour).
        # The first round's plan computes them; nothing is materialized
        # before it.
        labels = sym.groupBy("src").agg(F.min("dst").alias("nmin")).select(
            F.col("src").alias("key"), F.least("src", "nmin").alias("label")
        )
        for _ in range(max_iterations):
            iterations += 1
            # jump (pointer doubling): label ← label(label). Labels are
            # node keys by construction so the self-lookup lands; this
            # halves the distance to the component min every round →
            # O(log diameter) convergence even on path graphs. The old
            # label rides along for the convergence test.
            dim = labels.select(
                F.col("key").alias("d_key"), F.col("label").alias("d_label")
            )
            jumped = labels.join(
                dim, F.col("label") == F.col("d_key"), "left"
            ).select(
                "key",
                F.col("label").alias("old"),
                F.coalesce("d_label", "label").alias("label"),
            )
            # hop: per-node min of incoming neighbour labels, folded into
            # the own label with least() (null-skipping) — a join + map-
            # side-combinable groupBy, no union (Catalyst's union
            # constraint rewrite trips over self-join lineage here)
            neighbor_min = (
                sym.join(jumped, sym["src"] == jumped["key"])
                .groupBy(sym["dst"].alias("key"))
                .agg(F.min("label").alias("nmin"))
            )
            # ONE materialization per round; the count of changed labels
            # rides its job through observe
            moved = Observation(f"cc_round_{iterations}")
            labels = (
                jumped.join(neighbor_min, "key", "left")
                .select("key", "old", F.least("label", "nmin").alias("label"))
                .observe(
                    moved,
                    F.sum((F.col("label") != F.col("old")).cast("long"))
                    .alias("changed"),
                )
                .select("key", "label")
                .localCheckpoint(eager=True)
            )
            if not moved.get["changed"]:
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    if stats is not None:
        stats["iterations"] = iterations
    return labels.select(
        "key",
        F.col("label").alias("representative"),
        F.xxhash64("label").alias("cluster_id"),
    )


def incremental_components(
    assignments: DataFrame, new_edges: DataFrame, changed_only: bool = False
) -> DataFrame:
    """Cluster maintenance: fold a NEW batch of edges into a converged
    clustering without re-running connected components over the old graph.

    ``assignments``: (key, representative[, cluster_id]) — the CC output
    over the old edge set (``representative`` must be the min member key of
    each component, which is what ``connected_components`` produces).
    ``new_edges``: (src, dst) — the new batch. Self-edges (src == dst) are
    ignored, matching the upstream match stage (self-pairs never survive
    J4 self-match exclusion).

    Old clusters contract to their representative — one supernode per old
    cluster — so CC runs over the CONTRACTED batch graph only: its size is
    O(|new batch|), never O(|old graph|). At 10^12-file scale this is the
    difference between re-clustering a trillion edges per snapshot delta
    and clustering the delta itself; the two equi-joins against the
    assignments table are the only contact with old state (bucketed-by-key
    layout keeps them shuffle-free on the big side, sources/bucketed.py).

    Returns the same (key, representative, cluster_id) table a full
    ``connected_components(old_edges ∪ new_edges)`` would — exact, not
    approximate (one documented carve-out: a brand-new node whose ONLY
    batch edge is a pure self-edge is dropped here but would appear as a
    singleton row in the full recompute; real match stages never emit
    self-pairs, per the contract above) — because
    contraction-by-min preserves the global min:
    each merged family's min is the min over its old representatives
    (each already the min of its members) and the new keys
    (``tests/test_incremental_cc.py`` fuzzes this equivalence).
    """
    rep = assignments.select("key", "representative")
    contracted = (
        new_edges.join(
            rep.select(
                F.col("key").alias("src"), F.col("representative").alias("sr")
            ),
            "src",
            "left",
        )
        .join(
            rep.select(
                F.col("key").alias("dst"), F.col("representative").alias("dr")
            ),
            "dst",
            "left",
        )
        .select(
            F.coalesce("sr", "src").alias("src"),
            F.coalesce("dr", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    delta = connected_components(contracted)
    remap = delta.select(
        F.col("key").alias("representative"),
        F.col("representative").alias("new_rep"),
    )
    new_rows = delta.join(
        assignments.select("key"), "key", "left_anti"
    ).select("key", "representative")
    if changed_only:
        # O(delta) output for merge-on-read state sinks: only rows whose
        # representative actually changed (old members of remapped
        # clusters where the label moved) plus brand-new keys. Rewriting
        # the FULL state table per batch is O(state) no matter how small
        # the batch — at 20M assignments the full-rewrite fold measured
        # 59 s of which ~50 s was the state rewrite itself; the upsert
        # set is what a Delta/Iceberg MERGE INTO consumes.
        old_rows = (
            assignments.join(remap, "representative")
            .where(F.col("new_rep") != F.col("representative"))
            .select("key", F.col("new_rep").alias("representative"))
        )
    else:
        old_rows = assignments.join(remap, "representative", "left").select(
            "key",
            F.coalesce("new_rep", "representative").alias("representative"),
        )
    return old_rows.unionByName(new_rows).select(
        "key",
        "representative",
        F.xxhash64("representative").alias("cluster_id"),
    )
