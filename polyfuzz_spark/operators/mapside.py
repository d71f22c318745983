"""Map-side vectorization + MinHash banding (the zero-extra-shuffle scale
path).

Profiling at 250k docs showed the two relational pre-stages dominating and
not scaling: ``doc_terms``'s (doc, term) groupBy shuffles 36M rows into 36M
groups just to count term frequencies, and a JVM MinHash computed 64
string hashes per exploded gram row (3.2B hashes). Both are per-document
pure functions of the content, so they belong on the map side:

* ``fit_idf_mapside`` — document frequency counted per Arrow batch over
  distinct grams; the shuffle carries one partial (term, df) table per
  batch into a |vocab|-row groupBy(term). Exact same IDF values as the
  reference formula.
* ``vectorize_packed_mapside`` — broadcast vocabulary table
  (``vocab_table``); each Arrow batch cleans, shingles, counts, weights and
  L2-normalizes ALL its documents at once in numpy (``vectorize_keys``:
  ``_iter_gram_windows`` + one sort). Output: packed (doc_id, t:
  array<int> dense vocab ids, w) rows — the ONLY thing that ever
  shuffles. Feeds ``score_candidates_packed`` and the dense
  ``tfidf_dense_topk_packed_two`` kernel. The streaming serving index
  (``streaming/incremental.py``) vectorizes its queries with the same
  two helpers.
* ``minhash_bands_mapside`` — the library's ONLY MinHash generator.
  n-grams (n ≤ 8 chars) pack EXACTLY into uint64; num_hashes affine maps
  ``a_i · g + b_i`` over 2⁶⁴ (multiply-shift family, odd ``a_i``) give the
  per-doc minima vectorized in numpy; band keys combine r minima with the
  same affine trick. Output: (doc_id, band, band_key) — the banded join,
  bucket caps, ≥k-shared-bands logic and pair-budget gate are
  ``candidates_from_bands``; every candidate set bands through the two.

Determinism: the hash family derives from ``numpy.random.default_rng(seed)``
(stable across runs and machines) and gram packing is exact — required for
resume and for identical results at any parallelism.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ids import id_series, id_type
from ..partitioning import ensure_min_partitions
from .tfidf import TfidfConfig, TfidfModel


# Cache blocking for the fit/minhash gram kernels — same mechanism and
# rationale as VECTORIZER_SLICE_DOCS below (the three kernels share
# _iter_gram_windows and the 32-thread shared-L3 regime). Fit re-merges
# per-slice partial df counts before emitting, so the shuffle still
# carries one partial per batch; minhash concatenates per-slice
# signatures. Both bit-identical to the unsliced kernels. Round-5 A/B at
# 1.25M docs / local[32], alternating on/off (BASELINE.md round 5): fit
# 45.5/27.4 s unsliced vs 6.4/4.9 s sliced (the batch-global lexsort over
# ~5x-repeated grams was the fit kernel's real cost — per-slice dedup
# shrinks the final merge's input too); minhash 9.4→6.6 s and 14.6→11.3 s
# in its two adjacent pairs (~1.3x).
FIT_SLICE_DOCS: int | None = 1024
MINHASH_SLICE_DOCS: int | None = 1024


def doc_freq_batch(keys: list, cfg: TfidfConfig,
                   slice_docs: int | None = None) -> pd.DataFrame:
    """Document frequency over one batch of keys: a (term, pdf_) frame with
    one row per distinct term — the fit's gram kernel, shared by the
    map-side fit (one partial per Arrow batch) and the facade's driver
    tier (one table over the whole fit multiset)."""
    if cfg.clean_string and cfg.n_gram_range[1] <= 8:
        # whole-batch: distinct (gram, doc) pairs via one lexsort,
        # document frequency via run lengths over the gram runs —
        # integer counts, so identical to the dict accumulation.
        # Cache-blocked: each ``slice_docs`` slice dedups and
        # run-counts its own (already ~5x smaller) gram set, and
        # the per-slice (gram, df) partials re-merge with ONE
        # final sort-reduce so the shuffle still carries one
        # partial per batch — df is additive, so counts are
        # identical to the unsliced lexsort.
        step = slice_docs or len(keys) or 1
        pg, pc = [], []
        for lo in range(0, len(keys), step):
            parts = list(_iter_gram_windows(keys[lo:lo + step], cfg))
            if not parts:
                continue
            doc_of = np.concatenate([p[0] for p in parts])
            g = np.concatenate([p[1] for p in parts])
            order = np.lexsort((doc_of, g))
            gs, ds = g[order], doc_of[order]
            first = np.ones(gs.size, dtype=bool)
            first[1:] = (gs[1:] != gs[:-1]) | (ds[1:] != ds[:-1])
            gu = gs[first]  # distinct (gram, doc), gram-major
            run = np.ones(gu.size, dtype=bool)
            run[1:] = gu[1:] != gu[:-1]
            starts = np.nonzero(run)[0]
            pg.append(gu[starts])
            pc.append(np.diff(np.append(starts, gu.size)))
        if not pg:
            return pd.DataFrame({"term": [], "pdf_": []}).astype(
                {"term": "object", "pdf_": "int64"}
            )
        if len(pg) == 1:
            gu_b, dfc = pg[0], pc[0]
        else:
            g_all = np.concatenate(pg)
            c_all = np.concatenate(pc)
            order = np.argsort(g_all, kind="stable")
            g_all, c_all = g_all[order], c_all[order]
            run = np.ones(g_all.size, dtype=bool)
            run[1:] = g_all[1:] != g_all[:-1]
            starts = np.nonzero(run)[0]
            gu_b = g_all[run]
            dfc = np.add.reduceat(c_all, starts)
        return pd.DataFrame({"term": _unpack_u64_terms(gu_b), "pdf_": dfc})
    from ..functions.pygrams import doc_grams_py

    df_counts: dict[str, int] = {}
    for key in keys:
        for g in set(doc_grams_py(key or "", cfg)):
            df_counts[g] = df_counts.get(g, 0) + 1
    return pd.DataFrame(
        {"term": list(df_counts), "pdf_": list(df_counts.values())}
    ).astype({"term": "object", "pdf_": "int64"})


def fit_idf_mapside(docs: DataFrame, key_col: str = "key",
                    cfg: TfidfConfig | None = None,
                    id_col: str = "doc_id",
                    n_docs: int | None = None) -> TfidfModel:
    """TfidfModel with identical IDF values, document frequency counted
    map-side: each Arrow batch emits one partial (term, df) table
    (``doc_freq_batch``) — the shuffle carries ~|vocab| rows per batch
    instead of |docs|×|grams| exploded rows, and the gram generation runs
    in the same Python kernel family as vectorization (the JVM regex-clean
    + per-gram substring allocation was the single largest stage in the
    event log: 40 s of the 117 s pipeline at 250k docs).

    ``n_docs``: the row count of ``docs`` when the caller already holds
    it (a checkpoint manifest's ``rows``); None counts it here."""
    cfg = cfg or TfidfConfig()
    if n_docs is None:
        n_docs = docs.count()
    bc_cfg = docs.sparkSession.sparkContext.broadcast(
        (cfg, FIT_SLICE_DOCS)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cfg_l, slice_docs = bc_cfg.value
        for pdf in batches:
            yield doc_freq_batch(list(pdf[key_col]), cfg_l, slice_docs)

    partials = ensure_min_partitions(docs.select(key_col)).mapInPandas(
        gen, schema="term string, pdf_ long"
    )
    idf = partials.groupBy("term").agg(
        (
            F.log(
                (F.lit(1.0) + F.lit(float(n_docs)))
                / (F.lit(1.0) + F.sum("pdf_"))
            )
            + F.lit(1.0)
        ).alias("idf")
    ).cache()  # ≤|vocab| rows, reused by count/collect/joins
    return TfidfModel(idf=idf, n_docs=n_docs, config=cfg)


def vocab_table(model: TfidfModel) -> tuple[dict, tuple | None]:
    """The vectorizer's vocabulary, collected once from ``model.idf``
    (``vocab_from_idf``)."""
    rows = model.idf.collect()
    return vocab_from_idf(
        [r["term"] for r in rows], [r["idf"] for r in rows], model.config
    )


def vocab_from_idf(terms: list, idfs: list,
                   cfg: TfidfConfig) -> tuple[dict, tuple | None]:
    """``({term: (tid, idf)}, vpack)`` from an IDF table. tid is the
    term's rank in SORTED-TERM order, the dense id every packed vector and
    serving index shares.

    ``vpack`` is the batched kernel's lookup table: the vocab's exact u64
    gram packings sorted for searchsorted, the tid and idf of each. It is
    None (route every batch through the per-doc dict) unless every term
    packs exactly, which needs cleaned text and n-grams of ≤ 8 chars."""
    order = sorted(range(len(terms)), key=terms.__getitem__)
    terms = [terms[i] for i in order]
    idfs = [idfs[i] for i in order]
    vocab = {t: (i, v) for i, (t, v) in enumerate(zip(terms, idfs))}
    if not (
        cfg.clean_string
        and cfg.n_gram_range[1] <= 8
        and all(len(t) <= 8 for t in terms)
    ):
        return vocab, None
    vkeys = _pack_grams_u64(terms)
    vorder = np.argsort(vkeys)
    return vocab, (
        vkeys[vorder],
        vorder.astype(np.int64),  # tid of the k-th smallest key
        np.array(idfs, dtype=np.float64)[vorder],
    )


def vectorize_keys(
    keys: list, vocab: dict, vpack: tuple | None, cfg: TfidfConfig,
    slice_docs: int | None = None,
) -> tuple[list, list, list]:
    """One Arrow batch of keys → ``(kept, tids, weights)``: the row
    positions of the keys with at least one in-vocabulary gram, and for
    each its sorted int64 tids and L2-normalized float64 tf·idf weights.
    Out-of-vocabulary grams drop before the norm (sklearn's transform).

    The batched route (``vpack`` from ``vocab_table``) and the per-doc
    dict fallback give bit-identical output: integer tf counts × idf, then
    each doc's exact ``w @ w`` norm. ``slice_docs`` cache-blocks the
    batched route (see VECTORIZER_SLICE_DOCS); docs are independent, so
    it never changes the output."""
    kept, ts, ws = [], [], []
    if vpack is None:
        from ..functions.pygrams import doc_grams_py

        for i, key in enumerate(keys):
            counts: dict[int, int] = {}
            idfs: dict[int, float] = {}
            for g in doc_grams_py(key or "", cfg):
                hit = vocab.get(g)
                if hit is not None:
                    tid, idf = hit
                    counts[tid] = counts.get(tid, 0) + 1
                    idfs[tid] = idf
            if not counts:
                continue
            tids = np.fromiter(counts.keys(), dtype=np.int64)
            wts = np.fromiter(counts.values(), dtype=np.float64) * np.fromiter(
                (idfs[t] for t in counts), dtype=np.float64
            )
            order = np.argsort(tids)
            tids, wts = tids[order], wts[order]
            wts /= np.sqrt(wts @ wts)
            kept.append(i)
            ts.append(tids)
            ws.append(wts)
        return kept, ts, ws
    # whole-batch: flat gram array → vocab searchsorted → one stable sort
    # on (doc, tid) → run-length tf counts × idf; only the per-doc L2 norm
    # stays a loop (exact w@w dots)
    vk, vtid, vidf = vpack
    V = np.int64(vk.size)
    step = slice_docs or len(keys) or 1
    for lo in range(0, len(keys), step):
        parts = list(_iter_gram_windows(keys[lo:lo + step], cfg))
        if not parts:
            continue
        doc_of = np.concatenate([p[0] for p in parts])
        g = np.concatenate([p[1] for p in parts])
        pos = np.searchsorted(vk, g)
        in_r = pos < vk.size
        ok = in_r.copy()
        ok[in_r] = vk[pos[in_r]] == g[in_r]
        d, p = doc_of[ok], pos[ok]
        key = d * V + vtid[p]
        order = np.argsort(key, kind="stable")
        ks, iv = key[order], vidf[p][order]
        run = np.ones(ks.size, dtype=bool)
        run[1:] = ks[1:] != ks[:-1]
        starts = np.nonzero(run)[0]
        if not starts.size:
            continue
        w_all = np.diff(np.append(starts, ks.size)).astype(np.float64) * (
            iv[starts]
        )
        ku = ks[run]
        tid_u = ku % V
        d_u = ku // V
        doc_run = np.ones(d_u.size, dtype=bool)
        doc_run[1:] = d_u[1:] != d_u[:-1]
        bounds = np.append(np.nonzero(doc_run)[0], d_u.size)
        for a, b in zip(bounds[:-1], bounds[1:]):
            wts = w_all[a:b].copy()
            wts /= np.sqrt(wts @ wts)
            kept.append(lo + int(d_u[a]))
            ts.append(tid_u[a:b])
            ws.append(wts)
    return kept, ts, ws


# Intra-kernel cache blocking for the packed vectorizer: docs per slice
# inside each Arrow batch (None = whole batch). At 32 concurrent Python
# kernels the box's one shared L3 divides 32 ways, so the full-batch flat
# gram/sort working set (~10k docs × ~40 grams × 8 B plus the argsort)
# falls out of cache; an Arrow 10k→2k batch A/B measured 1.23× on this
# kernel (BASELINE.md round 4) but shrinking the GLOBAL Arrow batch conf
# trades away the other kernels' batch width — slicing inside the kernel
# lands the locality win locally. Round-5 sweep at 1.25M docs / local[32]
# (scripts/vectorizer_slice_bench.py, min-of-2): None 13.26 s, 8192
# 8.36 s, 4096 7.51 s, 2048 7.76 s, 1024 7.48 s, 512 7.17 s — 1.8× with
# a flat basin below 4096; 1024 sits mid-basin (512's extra 4% is within
# noise and smaller slices risk per-slice overhead on wider vocabs).
# Captured at call time into the broadcast so tests/sweeps monkeypatch it.
VECTORIZER_SLICE_DOCS: int | None = 1024


def vectorize_packed_mapside(
    model: TfidfModel, docs: DataFrame, key_col: str = "key",
    id_col: str = "doc_id", compact: bool = False,
) -> DataFrame:
    """(doc_id, t: array<int> sorted dense vocab ids, w: array<double>)
    packed L2-normalized TF-IDF vectors, built entirely map-side from a
    broadcast vocabulary (``vocab_table``) by ``vectorize_keys``. ``t``
    ids are consistent across every output of the SAME model — both sides
    of ``score_candidates_packed`` must come from one vectorizer family.

    ``compact=True`` shrinks weights to float32 (halves shuffle/cache
    bytes) — for the bench/pipeline path ONLY: the ~1e-7 relative weight
    error perturbs cosines by ~1e-6, enough to flip a milli-quantization
    within that distance of a .0005 boundary, so oracle-exact-checked paths
    must keep the default float64."""
    spark = docs.sparkSession
    id_ddl = id_type(docs, id_col)  # long / struct<h1,h2> / string — as fed
    vocab, vpack = vocab_table(model)
    bc = spark.sparkContext.broadcast(
        (vocab, model.config, compact, vpack, VECTORIZER_SLICE_DOCS)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab_l, cfg, compact_l, vpack_l, slice_docs = bc.value
        for pdf in batches:
            ids_all = pdf[id_col].to_numpy()
            kept, ts, ws = vectorize_keys(
                list(pdf[key_col]), vocab_l, vpack_l, cfg, slice_docs
            )
            # explicit dtypes: a batch whose docs are ALL gram-less (or out
            # of vocabulary) yields zero rows, and pandas would type the
            # empty t/w columns float64 — Arrow then refuses the
            # float64→list<int> conversion (NumPyConverter) even at 0 rows.
            # id dtype follows the input id type (128-bit struct ids and
            # string keys ride as objects).
            yield pd.DataFrame(
                {
                    "doc_id": id_series([ids_all[i] for i in kept], id_ddl),
                    "t": pd.Series(
                        [t.astype(np.int32) for t in ts], dtype="object"
                    ),
                    "w": pd.Series(
                        [w.astype(np.float32) for w in ws] if compact_l
                        else ws,
                        dtype="object",
                    ),
                }
            )

    w_type = "float" if compact else "double"
    return ensure_min_partitions(docs.select(id_col, key_col)).mapInPandas(
        gen, schema=f"doc_id {id_ddl}, t array<int>, w array<{w_type}>"
    )


_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_U64_MASK = 0xFFFFFFFFFFFFFFFF


def _fnv1a_64(data: bytes) -> int:
    h = _FNV_OFFSET
    for byte in data:
        h = ((h ^ byte) * _FNV_PRIME) & _U64_MASK
    return h


def _pack_grams_u64(grams: list[str]) -> np.ndarray:
    """uint64 encoding of distinct n-grams: grams of ≤ 8 UTF-8 bytes pack
    EXACTLY (zero collisions); longer grams (n_gram_range max > 8, or
    multi-byte text with clean_string=False) fall back to FNV-1a 64 —
    deterministic, with ~|grams|²/2⁶⁴ collision probability instead of the
    former silent first-8-bytes truncation merge."""
    if not grams:
        return np.empty(0, dtype=np.uint64)
    b = np.zeros((len(grams), 8), dtype=np.uint8)
    long_idx: list[tuple[int, int]] = []
    for i, g in enumerate(grams):
        eb = g.encode("utf-8")
        if len(eb) <= 8:
            b[i, : len(eb)] = np.frombuffer(eb, dtype=np.uint8)
        else:
            long_idx.append((i, _fnv1a_64(eb)))
    packed = b.view(np.uint64).ravel().copy()
    for i, h in long_idx:
        packed[i] = np.uint64(h)
    return packed


def _unpack_u64_terms(u: np.ndarray) -> list[str]:
    """Inverse of the ≤8-byte exact packing: uint64 → gram string. Only
    valid for grams that packed exactly (the batched kernels' precondition);
    cleaned text never contains NUL, so stripping trailing zeros is safe."""
    raw = u.astype("<u8").tobytes()
    return [
        raw[i : i + 8].rstrip(b"\0").decode("ascii")
        for i in range(0, len(raw), 8)
    ]


def _iter_gram_windows(
    keys: list, cfg: TfidfConfig
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Whole-batch n-gram extraction: yields one ``(doc_of, gram_u64)``
    multiset pair per n in ``n_gram_range`` (doc_of nondecreasing).

    Requires ``cfg.clean_string`` and ``n_gram_range[1] <= 8``: cleaned text
    is ASCII ``[a-z0-9 ]``, so char n-grams ARE byte windows. The batch
    packs into ONE byte buffer ('\\n'-separated — the separator is outside
    the cleaned alphabet, so any boundary-spanning window contains it and is
    dropped like a space-gram); ``sliding_window_view`` + zero-pad-to-8 +
    ``view(uint64)`` reproduce ``_pack_grams_u64`` exactly. Replaces the
    per-doc Python gram loops in the MinHash / fit / vectorize map-side
    kernels — their shared hot spot at 1.25M docs."""
    from ..functions.pygrams import clean_py

    cleaned = [clean_py(k or "") for k in keys]
    n_docs = len(cleaned)
    arr = np.frombuffer("\n".join(cleaned).encode("ascii"), dtype=np.uint8)
    lens = np.fromiter((len(c) for c in cleaned), dtype=np.int64, count=n_docs)
    starts = np.zeros(n_docs, dtype=np.int64)
    if n_docs > 1:
        np.cumsum(lens[:-1] + 1, out=starts[1:])
    bad_b = arr == 10
    if cfg.remove_space_ngrams:
        bad_b = bad_b | (arr == 32)
    for n in range(cfg.n_gram_range[0], cfg.n_gram_range[1] + 1):
        if arr.size < n:
            continue
        # 1-D shift-or packing: byte k of the window lands at bit 8k —
        # little-endian, the exact _pack_grams_u64 layout. n 1-D passes
        # beat materializing (m, n) window matrices ~10x.
        m = arr.size - n + 1
        acc = arr[:m].astype(np.uint64)
        badw = bad_b[:m].copy()
        for k in range(1, n):
            acc |= arr[k : k + m].astype(np.uint64) << np.uint64(8 * k)
            badw |= bad_b[k : k + m]
        keep = ~badw
        if not keep.any():
            continue
        pos = np.nonzero(keep)[0]
        # a kept window never crosses a separator, so its doc is the one
        # whose start is the last at or before its first byte
        doc_of = np.searchsorted(starts, pos, side="right") - 1
        yield doc_of, acc[keep]


def _minhash_gram_pairs(
    keys: list, cfg: TfidfConfig
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """``(doc_of, gram_u64)`` pairs for the MinHash kernel: the exact byte
    windows of ``_iter_gram_windows`` where it applies (cleaned text,
    n ≤ 8); otherwise — the raw-shingle dedup contract — each doc's
    distinct ``doc_grams_py`` set packed by ``_pack_grams_u64``."""
    if cfg.clean_string and cfg.n_gram_range[1] <= 8:
        yield from _iter_gram_windows(keys, cfg)
        return
    from ..functions.pygrams import doc_grams_py

    sets = [set(doc_grams_py(k or "", cfg)) for k in keys]
    doc_of = np.repeat(
        np.arange(len(keys), dtype=np.int64),
        np.array([len(g) for g in sets], dtype=np.int64),
    )
    if doc_of.size:
        yield doc_of, _pack_grams_u64([g for gs in sets for g in gs])


def _minhash_sigs_batched(
    keys: list, cfg: TfidfConfig, A: np.ndarray, B: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Whole-batch MinHash signatures: (kept_doc_idx, sig[k, num_hashes]).

    Per-doc column minima via ``np.minimum.reduceat`` over doc segments of
    the flat gram array (``_minhash_gram_pairs``). MinHash minima over the
    gram MULTISET equal minima over the distinct set, so signatures are
    bit-identical to a per-doc ``min`` over ``_pack_grams_u64`` of the
    doc's distinct grams (same packing, same hash family)."""
    n_docs = len(keys)
    num_hashes = len(A)
    sig = np.full((n_docs, num_hashes), _U64_MASK, dtype=np.uint64)
    any_grams = np.zeros(n_docs, dtype=bool)
    for doc_of, g in _minhash_gram_pairs(keys, cfg):
        # dedup (doc, gram) before hashing: code-like text repeats grams
        # ~5x, and the minima are identical over the distinct set — one
        # lexsort here saves that factor across all num_hashes passes
        order = np.lexsort((g, doc_of))
        ds, gs = doc_of[order], g[order]
        first = np.ones(gs.size, dtype=bool)
        first[1:] = (ds[1:] != ds[:-1]) | (gs[1:] != gs[:-1])
        doc_of, g = ds[first], gs[first]
        counts = np.bincount(doc_of, minlength=n_docs)
        nonempty = counts > 0
        any_grams |= nonempty
        offs = np.concatenate(([0], np.cumsum(counts)))[:-1][nonempty]
        with np.errstate(over="ignore"):
            for i in range(num_hashes):
                h = g * A[i] + B[i]
                sig[nonempty, i] = np.minimum(
                    sig[nonempty, i], np.minimum.reduceat(h, offs)
                )
    idx = np.nonzero(any_grams)[0]
    return idx, sig[idx]


def minhash_bands_mapside(
    docs: DataFrame,
    key_col: str = "key",
    cfg: TfidfConfig | None = None,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, band, band_key) — banded MinHash computed per document in
    numpy; the only shuffle left in blocking is the band-key equi-join.
    Docs without a single gram emit no rows. One whole-batch reduceat
    kernel (``_minhash_sigs_batched``) serves every config: cleaned n ≤ 8
    text reads exact byte windows, other configs (the raw-shingle dedup
    contract) each doc's packed distinct grams."""
    cfg = cfg or TfidfConfig()
    rows_per_band = num_hashes // bands
    rng = np.random.default_rng(seed)
    # odd multipliers → bijective multiply-shift over 2^64
    A = (rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    A2 = (rng.integers(0, 2**63, size=rows_per_band, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    spark = docs.sparkSession
    id_ddl = id_type(docs, id_col)
    bc = spark.sparkContext.broadcast(
        (A, B, A2, cfg, bands, rows_per_band, MINHASH_SLICE_DOCS)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        A_l, B_l, A2_l, cfg_l, n_bands, rpb, slice_docs = bc.value
        for pdf in batches:
            # cache-blocked per-slice signatures (per-doc independent
            # minima → concatenation is bit-identical to one call)
            keys = list(pdf[key_col])
            step = slice_docs or len(keys) or 1
            parts = []
            for lo in range(0, len(keys), step):
                i, s = _minhash_sigs_batched(
                    keys[lo:lo + step], cfg_l, A_l, B_l
                )
                parts.append((i + lo, s))
            idx = np.concatenate(
                [i for i, _ in parts] or [np.empty(0, dtype=np.int64)]
            )
            sigs = np.concatenate(
                [s for _, s in parts]
                or [np.empty((0, len(A_l)), dtype=np.uint64)]
            )
            with np.errstate(over="ignore"):
                bk = (
                    sigs.reshape(-1, n_bands, rpb) * A2_l[None, None, :]
                ).sum(axis=2).astype(np.int64)
            # explicit dtypes: a batch whose docs are ALL gram-less yields
            # zero rows, and Arrow must still see the declared id type
            yield pd.DataFrame(
                {
                    "doc_id": id_series(
                        np.repeat(pdf[id_col].to_numpy()[idx], n_bands),
                        id_ddl,
                    ),
                    "band": np.tile(
                        np.arange(n_bands, dtype=np.int32), len(idx)
                    ),
                    "band_key": bk.ravel(),
                }
            )

    return ensure_min_partitions(docs.select(id_col, key_col)).mapInPandas(
        gen, schema=f"doc_id {id_ddl}, band int, band_key long"
    )


def both_orientations(pairs: DataFrame, carry: tuple = ()) -> DataFrame:
    """(a,b,…) → (a,b,…),(b,a,…) via one explode — NOT a union: a union
    whose branches project the same self-join lineage trips Catalyst's
    UnionBase.rewriteConstraints in Spark 4.1, and the explode is
    shuffle-free. ``carry`` lists orientation-invariant columns (e.g. a
    symmetric similarity) copied onto both rows."""
    extras = [F.col(c) for c in carry]
    both = F.explode(
        F.array(
            F.struct(F.col("from_id"), F.col("to_id"), *extras),
            F.struct(
                F.col("to_id").alias("from_id"),
                F.col("from_id").alias("to_id"),
                *extras,
            ),
        )
    )
    return pairs.select(both.alias("p")).select(
        "p.from_id", "p.to_id", *[f"p.{c}" for c in carry]
    )


def _salted_sides(
    f_bands: DataFrame,
    t_bands: DataFrame,
    self_mode: bool,
    max_bucket_size: int,
    max_salt: int,
) -> tuple[DataFrame, DataFrame]:
    """Hot-band salting (VERDICT r02 item 3): instead of DROPPING members
    of buckets larger than ``max_bucket_size`` (which silently loses their
    candidacy through that band), split each hot bucket into
    ``s = ceil(n / cap)`` deterministic salt groups and cover every
    cross-group pair with a bounded s× replication — the grid trick the
    term join uses for hot terms (``cosine_join.py``).

    Each row gains grid coordinates: the F side sits at cell
    ``(ci = own group, cj = 0..s-1)``, the T side at
    ``(ci = 0..s-1, cj = own group)``; a pair (x in group a, y in group b)
    meets at exactly cell (a, b), so per-band pair multiplicity stays 1
    (``min_shared_bands`` counting is unchanged) and per-cell join fan-out
    is ~(n/s)² ≤ cap². Buckets needing s > ``max_salt`` are still dropped
    (the stop-band heuristic, now at threshold cap×max_salt instead of
    cap). Cold buckets get s=1 — the plain join, same plan shape."""
    sizes_f = f_bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("n_f")
    )
    if self_mode:
        worst = sizes_f.select("band", "band_key", F.col("n_f").alias("n"))
    else:
        sizes_t = t_bands.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("n_t")
        )
        # inner join: a bucket with rows on only one side yields no pairs
        worst = sizes_f.join(sizes_t, ["band", "band_key"]).select(
            "band", "band_key", F.greatest("n_f", "n_t").alias("n")
        )
    s_tab = (
        worst.select(
            "band", "band_key",
            F.ceil(F.col("n") / F.lit(max_bucket_size)).cast("int").alias("s"),
        )
        .where(F.col("s") <= max_salt)
    )
    own = F.pmod(F.xxhash64("doc_id", "band_key"), F.col("s")).cast("int")
    partner = F.explode(F.sequence(F.lit(0), F.col("s") - 1))
    f = f_bands.join(s_tab, ["band", "band_key"]).select(
        F.col("doc_id").alias("from_id"), "band", "band_key",
        own.alias("ci"), partner.alias("cj"),
    )
    t = (f_bands if self_mode else t_bands).join(
        s_tab, ["band", "band_key"]
    ).select(
        F.col("doc_id").alias("to_id"),
        F.col("band").alias("t_band"),
        F.col("band_key").alias("t_bk"),
        partner.alias("t_ci"), own.alias("t_cj"),
    )
    return f, t


def _cap_buckets(bands_df: DataFrame, max_bucket_size: int | None) -> DataFrame:
    if not max_bucket_size:
        return bands_df
    sizes = bands_df.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    return (
        bands_df.join(sizes, ["band", "band_key"])
        .where(F.col("bucket_n") <= max_bucket_size)
        .drop("bucket_n")
    )


def candidates_from_bands(
    f_bands: DataFrame,
    t_bands: DataFrame | None = None,
    max_bucket_size: int | None = 2000,
    min_shared_bands: int = 1,
    emit_both: bool = True,
    hot_bucket: str = "drop",
    max_salt: int = 16,
    pair_budget: int | None = None,
    budget_stats: dict | None = None,
) -> DataFrame:
    """Banded equi-join → (from_id, to_id) candidates. Self mode when
    t_bands is None (diagonal excluded).

    ``emit_both=False`` (self mode only) returns each unordered pair ONCE
    (from_id < to_id) — for symmetric scorers, which can score half the
    pairs and restore orientations afterwards via ``both_orientations``:
    the score stage's fat packed-vector join and the Python kernel then do
    half the work for identical results.

    ``hot_bucket``: what happens to buckets over ``max_bucket_size`` —
    ``"drop"`` (default; the documented recall tradeoff) or ``"salt"``
    (recall-preserving up to cap×``max_salt`` members per bucket, see
    ``_salted_sides``).

    ``pair_budget``: set by callers whose knobs were AUTO-resolved
    (explicit knobs are a contract). The join's output is MEASURED off the
    materialized band tables first, and the cap/min-shared demote when it
    is over budget (``adaptive.enforce_pair_budget``, which fills
    ``budget_stats``): doc-count regimes cannot see band-key concentration
    (BASELINE.md's 124k-doc post-mortem: 421M pairs under the permissive
    cap)."""
    if hot_bucket not in ("drop", "salt"):
        raise ValueError(f"hot_bucket must be 'drop' or 'salt', got {hot_bucket!r}")
    # materialize once: the band rows feed the budget gate, the
    # bucket-size dimension AND both join sides — without this the Python
    # band kernel re-runs per use
    f_bands = f_bands.localCheckpoint(eager=True)
    self_mode = t_bands is None
    if not self_mode:
        t_bands = t_bands.localCheckpoint(eager=True)
    if pair_budget is not None:
        from .adaptive import enforce_pair_budget

        knobs = enforce_pair_budget(
            f_bands,
            {"max_bucket_size": max_bucket_size,
             "min_shared_bands": min_shared_bands},
            pair_budget, budget_stats, to_bands=t_bands,
        )
        max_bucket_size = knobs["max_bucket_size"]
        min_shared_bands = knobs["min_shared_bands"]
    # explicit partition count for the banded self-join: its OUTPUT is
    # quadratic in bucket size while its input is ~20 B/row, so AQE's
    # input-size coalescing would concentrate the expansion on few tasks
    n_part = f_bands.sparkSession.sparkContext.defaultParallelism * 8
    if hot_bucket == "salt" and max_bucket_size:
        f, t = _salted_sides(
            f_bands, t_bands, self_mode, max_bucket_size, max_salt
        )
        f = f.repartition(n_part, "band", "band_key", "ci", "cj")
        cond = (
            (F.col("band") == F.col("t_band"))
            & (F.col("band_key") == F.col("t_bk"))
            & (F.col("ci") == F.col("t_ci"))
            & (F.col("cj") == F.col("t_cj"))
        )
    else:
        f_capped = _cap_buckets(f_bands, max_bucket_size)
        t_capped = (
            f_capped if self_mode else _cap_buckets(t_bands, max_bucket_size)
        )
        f = f_capped.repartition(n_part, "band", "band_key").select(
            F.col("doc_id").alias("from_id"), "band",
            F.col("band_key").alias("f_bk"),
        )
        t = t_capped.select(
            F.col("doc_id").alias("to_id"),
            F.col("band").alias("t_band"),
            F.col("band_key").alias("t_bk"),
        )
        cond = (F.col("band") == F.col("t_band")) & (
            F.col("f_bk") == F.col("t_bk")
        )
    if self_mode:
        # join each unordered pair ONCE (halves the quadratic join output
        # and the dedup/groupBy shuffle); both orientations are re-emitted
        # after the aggregate — band counts are orientation-symmetric.
        cond = cond & (F.col("from_id") < F.col("to_id"))
    joined = f.join(t, cond).select("from_id", "to_id")
    if min_shared_bands <= 1:
        pairs = joined.distinct()
    else:
        pairs = (
            joined.groupBy("from_id", "to_id")
            .agg(F.count(F.lit(1)).alias("n_bands"))
            .where(F.col("n_bands") >= min_shared_bands)
            .select("from_id", "to_id")
        )
    if not self_mode or not emit_both:
        return pairs
    return both_orientations(pairs)
