"""IVF-PQ: coarse inverted lists + product-quantized residuals.

The composition of the reference's two accelerators (IVF-style coarse
partitioning is what its HNSW layer buys; PQ codes are its
``quantization.py:444-597``) into the standard billion-scale ANN index
(Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011) — re-expressed for a data-parallel engine:

- **build** is a Spark pipeline: MLlib KMeans coarse lists → residual
  expression (``zip_with`` subtract against a broadcast centroid table)
  → PQ codebooks trained on a residual *sample* (MLlib KMeans per
  subspace) → Arrow-batched pandas encoder → a *codes table*
  ``(id, list_id, codes ARRAY<INT>)`` that is M bytes per vector
  instead of 4·D. Saved partitioned by ``list_id``.
- **search** reads only the probed lists (partition pruning at rest,
  ``isin`` filter in memory) and scans codes with a per-(query, list)
  ADC lookup table inside ``applyInPandas`` — one LUT gather per list,
  the same partial-top-k → global window merge shape as
  ``ivf.ivf_search_batch``. The LUT assembles from a decomposed
  expansion (:func:`_decomposed_lut`, round 9) whose query- and
  list-dependent halves are precomputed, making full 8-bit codebooks
  (K=256) as cheap to search as 6-bit ones — recall 0.73 → ~0.86 raw
  ADC at the same 16 B/vector and QPS on the bench corpus.
- **refine** (optional) joins the top ``refine`` candidates back to the
  raw vectors for an exact rerank — the reference's hybrid
  coarse→rerank pattern (``parallel_search.py:895-947``).

At 100 TB: a 4096-list, M=16 index stores ~16 B/vector (250× smaller
than 64-dim f32), a 16-probe query touches 0.4% of the partitions, and
the refine join fetches only ``Q × refine`` full vectors.

Distances are L2 over residual-decoded vectors (ADC). For cosine on
normalized inputs L2 ordering equals cosine ordering; callers wanting
true cosine should normalize at ingest (as the reference does).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def _code_offsets(m_subspaces: int, n_centroids: int) -> np.ndarray:
    """(1, M) int offsets turning per-subspace codes into indices of a
    flattened (M·K) LUT row — lets the ADC sum be ONE fancy gather."""
    return (np.arange(m_subspaces, dtype=np.intp) * n_centroids)[None, :]


def _query_cb_dots(qmat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(nq, M, K) table of q_m · cb_mk — the query-dependent half of the
    decomposed ADC LUT, computed ONCE per search call instead of once
    per (query, list). See :func:`_decomposed_lut`."""
    m_subspaces, _, sub = codebooks.shape
    qm = qmat.reshape(len(qmat), m_subspaces, sub)
    return np.einsum("qms,mks->qmk", qm, codebooks)


def _cent_cb_dots(centroids: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(L, M, K) table of c_lm · cb_mk — the list-dependent half of the
    decomposed LUT; query-independent, so computed once per index."""
    m_subspaces, _, sub = codebooks.shape
    cm = centroids.reshape(len(centroids), m_subspaces, sub)
    return np.einsum("lms,mks->lmk", cm, codebooks)


def _cb_norms2(codebooks: np.ndarray) -> np.ndarray:
    """(M, K) squared norms of the codebook entries."""
    return np.einsum("mks,mks->mk", codebooks, codebooks)


def _list_lut_const(
    centroids: np.ndarray, codebooks: np.ndarray
) -> np.ndarray:
    """(L, M, K) query-independent LUT term ``2·c_lm·cb_mk +
    ||cb_mk||²`` — precombined so the per-(query, list) assembly below
    is two in-place adds instead of four broadcast passes."""
    return 2.0 * _cent_cb_dots(centroids, codebooks) + _cb_norms2(
        codebooks
    )[None]


def _decomposed_lut(
    qr: np.ndarray,       # (q, M, sub) residual queries for ONE list
    a_q: np.ndarray,      # (q, M, K)   q·cb rows for these queries
    c_l: np.ndarray,      # (M, K)      2·c_l·cb + ||cb||² for this list
) -> np.ndarray:
    """Per-(query, list) ADC LUT via the expansion
    ``||(q−c)_m − cb_mk||² = ||(q−c)_m||² − 2·q_m·cb_mk + (2·c_m·cb_mk
    + ||cb_mk||²)``. Round 9's per-(query, list) assembly; the round-10
    serving kernels split further (:func:`_gather_b_f32`) so nothing
    per-list remains — kept for the trainer/tests and as the reference
    formula."""
    s = np.einsum("qms,qms->qm", qr, qr)
    lut = -2.0 * a_q
    lut += s[:, :, None]
    lut += c_l[None]
    return lut


def _gather_b_f32(
    cflat: np.ndarray,    # (n, M) intp codes pre-offset into M·K flat
    c_l: np.ndarray,      # (M, K) f64 list-const 2·c_l·cb + ||cb||²
) -> np.ndarray:
    """(n,) f32 query-INDEPENDENT ADC half for one list's code rows:
    ``Σ_m (2·c_m·cb_m,code + ||cb_m,code||²)``, gathered from the f32
    flat list-const in ascending-m accumulation.

    Round-10 kernel split: the full LUT term decomposes per candidate
    row i (list l, query q) as

        d2[q, i] = gA[q, i] + gB[i] + S[q, l]

    with ``gA = Σ_m −2·q_m·cb_m,code`` (per-QUERY flat LUT — one
    (M·K) row per query per CALL, no per-list assembly), ``gB`` this
    function (per-ROW, query-independent — cacheable at pack time),
    and ``S = ||q − c_l||²`` (a scalar). Round 9 assembled a combined
    (q_l, M, K) LUT per (query, list): at nprobe=16 over 512 lists
    that is ~800 MB of LUT traffic per 1024-query call, and it was the
    entire −28% QPS regression of the finer-list operating point. The
    split leaves gather bandwidth as the only per-candidate cost.
    Identical codes still collide to exactly equal d2 (same gA/gB/S
    inputs), preserving every tie rule; the distributed per_list
    kernel and the packed local twin run this same helper and the same
    f32 accumulation order, so the two stay bit-identical for one BLAS
    build and thread count (executors and the driver both run OpenBLAS
    on one thread, see ``session.get_spark``).

    Conditioning assumption (ADVICE r10): the split sums large SIGNED
    f32 terms (gA < 0, gB/S > 0) where the round-9 kernel assembled
    non-negative per-subspace distances in f64 — fine for roughly
    unit-norm residuals (coarse centering keeps |residual| ≪ |x|, and
    every corpus here is ~unit-norm), but on uncentered/large-magnitude
    embeddings the cancellation gA + (gB + S) loses more relative
    precision and raw-ADC near-boundary ordering can drift. Exact
    refine masks it; if an unnormalized-corpus raw-recall regression
    ever shows up, accumulate gA + gB in f64 per row before the
    conversion."""
    flat = c_l.astype(np.float32).ravel()
    g = flat[cflat[:, 0]].copy()
    for m in range(1, cflat.shape[1]):
        g += flat[cflat[:, m]]
    return g


@dataclass
class IVFPQIndex:
    centroids: np.ndarray   # (L, D) float64 — coarse list centroids
    codebooks: np.ndarray   # (M, K, D/M) float64 — residual PQ codebooks
    codes: DataFrame        # (id_col, list_id, codes ARRAY<INT>)
    id_col: str = "vec_id"
    # OPQ rotation (Ge et al., "Optimized Product Quantization", CVPR
    # 2013): orthonormal (D, D); codes quantize R·(x − c) instead of
    # (x − c). None = identity (pre-OPQ indexes keep working). Probe
    # selection stays in ORIGINAL space (rotation preserves L2, so
    # probing rotated or not is equivalent — unrotated avoids touching
    # the shared centroid_probe_scores path); only the ADC residual
    # space is rotated, via `rot_centroids` + a once-per-call q @ Rᵀ.
    rotation: np.ndarray | None = None

    @property
    def rot_centroids(self) -> np.ndarray:
        """(L, D) centroids in the rotated residual space — the
        list-dependent LUT half is built from these (cached)."""
        if self.rotation is None:
            return self.centroids
        rc = getattr(self, "_rot_centroids", None)
        if rc is None:
            rc = self.centroids @ self.rotation.T
            object.__setattr__(self, "_rot_centroids", rc)
        return rc

    def save(self, path: str) -> None:
        """Codes table partitioned by list: probes prune partitions."""
        self.codes.write.mode("overwrite").partitionBy("list_id").parquet(path)

    def colocate(self, n_partitions: int | None = None) -> "IVFPQIndex":
        """Materialize ``codes`` hash-partitioned by ``list_id`` — the
        in-memory twin of :meth:`save`'s at-rest layout (same rationale
        as ``IVFIndex.colocate``: the per-batch groupBy(list_id)
        exchange becomes a partition-local pass-through instead of a
        full codes shuffle). Mutates ``codes`` in place; returns self."""
        from fastpyvectordb_spark.ann.ivf import default_colocate_partitions

        if n_partitions is None:
            n_partitions = default_colocate_partitions(self.codes)
        self.codes = self.codes.repartition(
            n_partitions, "list_id"
        ).localCheckpoint()
        return self


def _train_residual_codebooks(
    residuals: DataFrame,
    m_subspaces: int,
    n_centroids: int,
    dims: int,
    seed: int,
    max_iter: int,
    train_rows: int,
) -> np.ndarray:
    """MLlib KMeans per subspace on a bounded residual sample (training
    on a sample is standard PQ practice). The sample is MATERIALIZED
    once (localCheckpoint): the residual pipeline upstream is an
    IVF-assign transform + broadcast join, and without the checkpoint
    the count, every one of the M KMeans fits, and the sample itself
    would re-run it — and a re-evaluated sample() need not yield the
    same rows, so the M subspace codebooks could train on different
    data."""
    from fastpyvectordb_spark.operators.quantization import pq_train_kmeans

    n = residuals.count()  # one sizing pass; nothing materialized yet
    if n > train_rows:
        residuals = residuals.sample(
            fraction=min(1.0, train_rows * 1.1 / n), seed=seed
        ).limit(train_rows)
    # materialize the BOUNDED set only (≤ train_rows rows), never the
    # full residual table
    residuals = residuals.localCheckpoint()
    cb = pq_train_kmeans(
        residuals,
        m_subspaces,
        n_centroids,
        dims,
        vec_col="residual",
        seed=seed,
        max_iter=max_iter,
    ).collect()
    sub = dims // m_subspaces
    cents = np.zeros((m_subspaces, n_centroids, sub), dtype=np.float64)
    for r in cb:
        cents[r["m"], r["cidx"]] = np.asarray(r["cvec"], dtype=np.float64)
    return cents


def _kmeanspp_init(xs: np.ndarray, k: int, r: np.random.RandomState) -> np.ndarray:
    """k-means++ seeding (Arthur & Vassilvitskii 2007) — at K=256 on a
    20k sample, random init leaves duplicate/dead centroids that cost
    ~0.01 raw recall; ++ seeding removes that failure mode."""
    n = len(xs)
    cents = np.empty((k, xs.shape[1]), dtype=np.float64)
    cents[0] = xs[r.randint(n)]
    d2 = ((xs - cents[0]) ** 2).sum(1)
    for j in range(1, k):
        tot = d2.sum()
        if tot <= 0:  # fewer distinct points than centroids
            cents[j:] = xs[r.choice(n, k - j)]
            break
        cents[j] = xs[r.choice(n, p=d2 / tot)]
        d2 = np.minimum(d2, ((xs - cents[j]) ** 2).sum(1))
    return cents


def _subspace_map(fn, m_subspaces: int, n_rows: int) -> None:
    """Run ``fn(m)`` for every subspace, pooled when the work is big
    enough to pay for threads. Subspaces are arithmetically independent
    (disjoint input slices, disjoint output slices), so pooled results
    are bit-identical to the serial loop — determinism pins
    (test_opq_trainer_properties) hold. The per-m body is GIL-releasing
    NumPy (tiny inner-dim GEMMs, argmin, bincount) over large slices:
    exactly the regime where the repo's driver-side pools win (README
    "which local kernels pool"); the small-shape cutoff keeps unit-test
    shapes on the serial path.

    Concurrency is capped at 8 pool threads: the per-m bodies saturate
    memory bandwidth well before 16 (measured on the r11 host: nt=16
    ran 1.6× SLOWER than serial from cache thrash). BLAS adds no
    threads of its own: ``session.get_spark`` runs the driver's
    OpenBLAS on one thread, so the pool is the only parallelism."""
    import os

    nt = min(m_subspaces, os.cpu_count() or 1, 8)
    if nt <= 1 or n_rows * m_subspaces < (1 << 16):
        for m in range(m_subspaces):
            fn(m)
        return
    from fastpyvectordb_spark.session import driver_pool

    for _ in driver_pool().map(fn, range(m_subspaces)):
        pass


def _pq_prepare(x3: np.ndarray) -> np.ndarray:
    """(n, M, sub) f64 → C-contiguous (M, n, sub) f32 in ONE pass.
    The old per-subspace ``ascontiguousarray(x3[:, m], f32)`` re-read
    the entire sample's cache lines M times per assign (strided
    middle-axis slice) — on a bandwidth-bound host that copy traffic
    rivalled the GEMM's. Element-wise f64→f32 conversion is identical
    either way, so codes are bit-identical."""
    return np.ascontiguousarray(x3.transpose(1, 0, 2), dtype=np.float32)


def _pq_assign_prepared(xT: np.ndarray, cbs: np.ndarray) -> np.ndarray:
    """Assign against a ``_pq_prepare``d sample. Distance surrogate per
    chunk: ``b = x @ (−2·cbᵀ); b += ‖cb‖²; argmin`` — the −2 is folded
    into the (tiny) codebook operand because scaling by a power of two
    is exact in IEEE f32 and commutes with the GEMM's rounding, so the
    fold is bit-identical to the old separate ``b *= −2`` pass while
    removing a full read+write sweep of the distance buffer (the
    kernel is memory-bound: that pass was ~1/3 of its traffic)."""
    m_subspaces, n, _ = xT.shape
    n_centroids = cbs.shape[1]
    codes = np.empty((n, m_subspaces), dtype=np.int64)
    chunk = 8192

    def run_m(m: int) -> None:
        # ascontiguousarray (ADVICE r11 #1): .T.astype(order='K') gave
        # an F-contiguous operand — the fold itself is exact either
        # way, but pinning the C layout keeps the GEMM on the SAME
        # transpose kernel as the pinned naive reference. The codes
        # match that reference per BLAS build and thread count only:
        # another build may sum in another order and flip a rare tie
        cb_t2 = np.ascontiguousarray(cbs[m].T, dtype=np.float32)
        cb_t2 *= np.float32(-2.0)
        cb_n2 = (cbs[m] ** 2).sum(1).astype(np.float32)
        xm = xT[m]
        buf = np.empty((min(chunk, n), n_centroids), dtype=np.float32)
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            b = buf[: e - s]
            np.dot(xm[s:e], cb_t2, out=b)
            b += cb_n2[None, :]
            codes[s:e, m] = b.argmin(1)

    _subspace_map(run_m, m_subspaces, n)
    return codes


def _pq_assign_all(x3: np.ndarray, cbs: np.ndarray) -> np.ndarray:
    """(n, M) codes — nearest codebook entry per subspace. Per-subspace
    f32 BLAS GEMM into a chunked buffer (||x||² dropped: constant per
    row, argmin-invariant). TRAINER-internal assignment only (the
    production encoder in ivfpq_build stays float64): f32 is fine for
    Lloyd/Procrustes iterates, and the full-matrix f64 form wrote
    1.6 GB of temporaries per 50k-row assign — the chunked f32 buffer
    stays cache-resident and measured ~4× faster end-to-end."""
    return _pq_assign_prepared(_pq_prepare(x3), cbs)


def _pq_lloyd_all(
    x3: np.ndarray,
    cbs: np.ndarray,
    iters: int,
    xT: np.ndarray | None = None,
    x64T: np.ndarray | None = None,
) -> np.ndarray:
    """Batch Lloyd over all M subspaces; dead centroids stay put (the
    ++ init makes them rare on real residuals). Centroid update via
    per-dimension bincount (np.add.at is ~10× slower here); updates
    keep reading the f64 sample (unchanged numerics) while the assigns
    share ONE f32 transpose hoisted out of the iteration loop. The
    per-m updates write disjoint ``cbs[m]`` rows, so they pool like
    the assign. Callers that already hold the sample's transposes
    (``_train_opq`` prepares each rotation exactly once and reuses it
    across the iteration's assign + Lloyd calls — r12: the r11 loop
    re-transposed the identical 90k×64 rotation up to 3× per OPQ
    iteration, ~2.5 s of pure copy traffic at the bench point) pass
    them in; values are identical by construction (same input array,
    same element-wise conversion)."""
    m_subspaces, n_centroids, sub = cbs.shape
    n = x3.shape[0]
    if xT is None:
        xT = _pq_prepare(x3)
    # f64 twin of the transpose for the centroid update: bincount must
    # keep averaging the ORIGINAL f64 values (numerics unchanged), but
    # the strided x3[:, m, j] reads touched every sample cache line
    # M·sub times per update — one contiguous copy removes that
    if x64T is None:
        x64T = np.ascontiguousarray(x3.transpose(1, 0, 2))

    def upd_m_factory(codes):
        def upd_m(m: int) -> None:
            # contiguous copy once: the strided codes[:, m] column
            # would re-touch every row's cache line for EACH of the
            # sub+1 bincounts below
            cm = np.ascontiguousarray(codes[:, m])
            cnt = np.bincount(cm, minlength=n_centroids)
            xm64 = x64T[m]
            sums = np.stack(
                [
                    np.bincount(
                        cm, weights=xm64[:, j],
                        minlength=n_centroids,
                    )
                    for j in range(sub)
                ],
                axis=1,
            )
            nz = cnt > 0
            cbs[m][nz] = sums[nz] / cnt[nz][:, None]

        return upd_m

    for _ in range(iters):
        codes = _pq_assign_prepared(xT, cbs)
        _subspace_map(upd_m_factory(codes), m_subspaces, n)
    return cbs


def _train_opq(
    sample: np.ndarray,
    m_subspaces: int,
    n_centroids: int,
    seed: int,
    opq_iters: int,
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ-NP (Ge et al. CVPR 2013, non-parametric): alternate
    per-subspace Lloyd on the rotated sample with the orthogonal
    Procrustes solve ``R = (U Vᵀ)ᵀ, U S Vᵀ = svd(Xᵀ · decoded(X R ᵀ))``
    that minimizes ``‖X Rᵀ − decoded‖_F`` over orthonormal R. Identity
    init + warm-started codebooks: on the bench corpus this beat both
    PCA-eigenvalue-balanced init and cold restarts (measured r10 —
    PCA init landed in a worse local optimum, 0.864 vs 0.884 raw
    recall). Everything is driver-side NumPy on the BOUNDED sample
    (≤ train_rows rows ≈ 10 MB at 20k×64) — deterministic, seconds,
    and scale-independent because the sample is."""
    n, dims = sample.shape
    sub = dims // m_subspaces
    x3 = sample.reshape(n, m_subspaces, sub)
    # per-subspace ++ inits are independent (each has its own seeded
    # RandomState), so they pool like the assign — same draws, same
    # centroids as the serial loop
    inits: list[np.ndarray | None] = [None] * m_subspaces

    def init_m(m: int) -> None:
        inits[m] = _kmeanspp_init(
            np.ascontiguousarray(x3[:, m]),
            n_centroids,
            np.random.RandomState(seed + m),
        )

    _subspace_map(init_m, m_subspaces, n)
    cbs = np.stack(inits)
    # each rotation of the sample is transposed exactly ONCE (f32 for
    # the assigns, f64 for the Lloyd updates) and shared by every
    # assign/Lloyd pass over that rotation — the r11 shape re-derived
    # these identical copies inside _pq_assign_all and _pq_lloyd_all
    # (up to 3 re-transposes of the same 90k×64 array per OPQ
    # iteration). Same input array + same element-wise conversion →
    # bit-identical codes and centroids (pinned by
    # test_pq_assign_matches_naive_reference / _trainer_properties).
    xT = _pq_prepare(x3)
    x64T = np.ascontiguousarray(x3.transpose(1, 0, 2))
    cbs = _pq_lloyd_all(x3, cbs, 8, xT=xT, x64T=x64T)
    rot = np.eye(dims)
    dec = np.empty((n, dims))
    for _ in range(opq_iters):
        # xT always holds the CURRENT rotation (identity on entry)
        codes = _pq_assign_prepared(xT, cbs)
        for m in range(m_subspaces):
            dec[:, m * sub:(m + 1) * sub] = cbs[m][codes[:, m]]
        u, _, vt = np.linalg.svd(sample.T @ dec)
        rot = (u @ vt).T
        rotated = sample @ rot.T
        x3r = rotated.reshape(n, m_subspaces, sub)
        xT = _pq_prepare(x3r)
        x64T = np.ascontiguousarray(x3r.transpose(1, 0, 2))
        cbs = _pq_lloyd_all(x3r, cbs, 3, xT=xT, x64T=x64T)
    if opq_iters > 0:
        cbs = _pq_lloyd_all(x3r, cbs, 8, xT=xT, x64T=x64T)
    else:
        cbs = _pq_lloyd_all(x3, cbs, 8, xT=xT, x64T=x64T)
    return rot, cbs


def ivfpq_build(
    df: DataFrame,
    n_lists: int | None = 16,
    m_subspaces: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    train_rows: int = 20_000,
    opq_iters: int = 10,
    coarse_train_rows: int | None = None,
) -> IVFPQIndex:
    """Build an IVF-PQ index: coarse KMeans lists + per-list residual
    PQ codes (optionally OPQ-rotated, Ge et al. CVPR 2013).

    ``coarse_train_rows`` bounds the COARSE KMeans fit to a sample
    (fit-on-sample / assign-everything — the standard 100 TB shape;
    FAISS trains IVF coarse quantizers on 30-256 points per centroid).
    None fits on the full table, which is the right default up to a
    few hundred thousand rows; at 10M+ pass ~1M so the fit cost stays
    bounded while assignment (one pass, map-side) covers everything.

    ``n_lists=None`` auto-sizes the coarse quantizer to ``≈ √N``
    (the FAISS sizing rule), clamped to [16, 65536] — 100k rows get
    ~316 lists, 10M get ~3162, so small corpora keep coarse scan work
    (and distributed-batch per-list group count) proportionate while
    big ones get list sizes that stay probe-prunable. The clamp floor
    matches the old fixed default.

    ``max_iter`` bounds the coarse KMeans (always) and, on the
    ``opq_iters=0`` path, the distributed residual-codebook Lloyd
    passes. With ``opq_iters>0`` the residual training instead runs
    ``_train_opq``'s fixed 8/3/8 driver-side Lloyd schedule (the
    alternation with the Procrustes solve is the budget that matters
    there — tune ``opq_iters``/``train_rows``, not ``max_iter``)."""
    from fastpyvectordb_spark.ann.ivf import ivf_build

    if n_lists is None:
        n_rows = df.count()
        n_lists = max(16, min(65536, int(round(n_rows ** 0.5))))

    first = df.select(F.size(vec_col).alias("d")).head()
    if first is None:
        raise ValueError("ivfpq_build: input DataFrame is empty")
    dims = int(first["d"])
    if dims % m_subspaces:
        raise ValueError(f"dims={dims} not divisible by M={m_subspaces}")
    if n_centroids > 256:
        # codes are packed to uint8 (one byte per subspace)
        raise ValueError(f"n_centroids={n_centroids} > 256 (uint8 codes)")

    ivf = ivf_build(df, n_lists=n_lists, vec_col=vec_col, seed=seed,
                    max_iter=max_iter, train_rows=coarse_train_rows)
    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(ivf.centroids)],
        "list_id int, cvec array<double>",
    )
    residuals = (
        ivf.assigned.join(F.broadcast(cent_df), "list_id")
        .select(
            id_col,
            "list_id",
            F.zip_with(
                F.col(vec_col), "cvec", lambda v, c: v.cast("double") - c
            ).alias("residual"),
        )
    )
    rot: np.ndarray | None = None
    if opq_iters > 0:
        # OPQ training: bounded residual sample → driver NumPy (the
        # sample is ≤ train_rows rows regardless of corpus size, so
        # this collect is scale-independent like every other bounded
        # collect in the repo). Unlike _train_residual_codebooks no
        # localCheckpoint is needed: the sample is collected exactly
        # once, so there is no recomputation to cut. NOTE: max_iter
        # governs only the COARSE quantizer here (ivf_build above);
        # the residual Lloyd budgets on this path are _train_opq's
        # fixed 8/3/8 schedule (see ivfpq_build's docstring).
        n = residuals.count()
        res_s = residuals
        if n > train_rows:
            res_s = residuals.sample(
                fraction=min(1.0, train_rows * 1.1 / n), seed=seed
            ).limit(train_rows)
        sample = np.stack(
            [
                np.asarray(r["residual"], dtype=np.float64)
                for r in res_s.select("residual").collect()
            ]
        )
        rot, cents = _train_opq(
            sample, m_subspaces, n_centroids, seed, opq_iters
        )
    else:
        cents = _train_residual_codebooks(
            residuals, m_subspaces, n_centroids, dims, seed, max_iter,
            train_rows,
        )

    # Arrow-batched encoder: nearest codebook centroid per subspace.
    # The codebooks are tiny (M·K·D/M doubles) — closure-shipped.
    sub = dims // m_subspaces
    out_schema = StructType(
        [
            # ids pass through with their own type (string ids work)
            StructField(id_col, residuals.schema[id_col].dataType),
            StructField("list_id", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            r = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["residual"]]
            )
            if rot is not None:  # OPQ: quantize the ROTATED residual
                r = r @ rot.T
            r = r.reshape(len(pdf), m_subspaces, sub)
            codes = np.empty((len(pdf), m_subspaces), dtype=np.int32)
            for m in range(m_subspaces):
                # (n, K) squared L2 to the m-th codebook; argmin picks
                # the first minimum — same tie rule as pq_encode
                diff = r[:, m, None, :] - cents[m][None, :, :]
                codes[:, m] = np.einsum("nkd,nkd->nk", diff, diff).argmin(1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "list_id": pdf["list_id"].to_numpy(),
                    "codes": list(codes),
                }
            )

    codes_df = residuals.mapInPandas(encode, schema=out_schema)
    return IVFPQIndex(
        centroids=ivf.centroids, codebooks=cents, codes=codes_df,
        id_col=id_col, rotation=rot,
    )


def ivfpq_search_batch(
    index: IVFPQIndex,
    queries_pdf: pd.DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    refine_df: DataFrame | None = None,
    refine: int = 0,
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched IVF-PQ ADC search: per probed list, one LUT per querying
    query against that list's residual codebooks, codes gathered with M
    fancy-index adds, partial top-k per (query, list), global window
    merge. With ``refine_df``/``refine`` the top ``refine`` ADC
    candidates are joined back to the raw vectors and exactly reranked
    (L2). Output: (query_id, rank, <id_col>, dist)."""
    from fastpyvectordb_spark.ann.ivf import _resolve_nprobe

    nprobe = _resolve_nprobe(nprobe, index.centroids.shape[0])
    id_col = index.id_col
    qids = queries_pdf["query_id"].to_numpy()
    qmat = np.stack(
        [np.asarray(v, dtype=np.float64) for v in queries_pdf["query_vec"]]
    )
    nq, dims = qmat.shape
    m_subspaces, n_centroids, sub = index.codebooks.shape

    from fastpyvectordb_spark.ann.ivf import centroid_probe_scores

    cd = centroid_probe_scores(index.centroids, qmat)
    probe = np.argsort(cd, axis=1)[:, :nprobe]
    probe_map: dict[int, np.ndarray] = {}
    for lid in np.unique(probe):
        probe_map[int(lid)] = np.nonzero((probe == lid).any(axis=1))[0]

    n_fetch = max(k, refine)
    cents = index.codebooks
    # ADC runs in the (optionally OPQ-rotated) residual space: rotate
    # the queries ONCE per call and use the cached rotated centroids —
    # probe selection above already ran in original space (rotation
    # preserves L2, so the probed lists are identical either way)
    coarse = index.rot_centroids
    qmat_r = qmat if index.rotation is None else qmat @ index.rotation.T
    # decomposed-LUT inputs: ONLY the small factors ship in the task
    # closure (codebooks + centroids + queries, ~100s of KB); the
    # (q, M, K) and (M, K) table halves are recomputed inside each
    # per_list task from them — M·K·sub MACs per list, negligible next
    # to the code gather, vs ~16 MB of pickled closure per task if the
    # precomputed (nq, M, K)/(L, M, K) tables shipped instead (measured
    # 5× batch-QPS loss). Element values are identical either way
    # (each einsum output element is an independent sub-length dot),
    # which the local/distributed parity tests pin.

    id_type = index.codes.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField(id_col, id_type),
            StructField("dist", DoubleType()),
        ]
    )
    id_np = "int64" if id_type.typeName() in ("long", "integer") else "object"

    def per_list(key, pdf: pd.DataFrame) -> pd.DataFrame:
        lid = int(key[0])
        qidx = probe_map.get(lid)
        if qidx is None or pdf.empty:
            return pd.DataFrame({"query_id": [], id_col: [], "dist": []}).astype(
                {"query_id": "int64", id_col: id_np, "dist": "float64"}
            )
        ids = pdf[id_col].to_numpy()
        codes = np.stack([np.asarray(c) for c in pdf["codes"]])  # (n, M)
        # id-ascending order so the stable partial cut below resolves
        # equal-d2 ties by id (identical PQ codes collide exactly) the
        # same way the final ORDER BY dist, id does — and the same way
        # the packed local twin (id-sorted within list) does
        o = np.argsort(ids, kind="stable")
        ids = ids[o]
        codes = codes[o]
        # round-10 split-LUT ADC (see _gather_b_f32): per-query gA
        # gather + per-row gB gather + per-(query, list) scalar S —
        # no per-list LUT assembly. All f32, ascending-m accumulation,
        # identical op order to ivfpq_search_local → bit-identical.
        cflat = codes.astype(np.intp) + _code_offsets(m_subspaces, n_centroids)
        c_l = _list_lut_const(coarse[lid][None, :], cents)[0]
        g_b = _gather_b_f32(cflat, c_l)
        a_f = (-2.0 * _query_cb_dots(qmat_r[qidx], cents)).reshape(
            len(qidx), -1
        ).astype(np.float32)
        d2 = a_f[:, cflat[:, 0]].copy()
        for m in range(1, m_subspaces):
            d2 += a_f[:, cflat[:, m]]
        d2 += g_b[None, :]
        s_q = ((qmat_r[qidx] - coarse[lid]) ** 2).sum(1).astype(np.float32)
        d2 += s_q[:, None]
        kk = min(n_fetch, len(ids))
        # tie-aware cut: boundary d2 ties (identical codes) keep the
        # smaller id — argpartition speed otherwise. Rows are
        # id-ascending, so POSITION ties == id ties and the cut works
        # for any id type (string ids don't enter the int kernel).
        from fastpyvectordb_spark.operators.knn import topk_rows_tied

        p = topk_rows_tied(d2, np.arange(len(ids), dtype=np.int64), kk)
        rows = np.arange(len(qidx))[:, None]
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids[qidx], p.shape[1]),
                id_col: ids[p].ravel(),
                "dist": np.sqrt(np.maximum(d2[rows, p], 0.0)).ravel(),
            }
        )

    partials = (
        index.codes
        # prune to the probed lists BEFORE the shuffle (same as
        # ivf_search_batch): unprobed lists' codes would be grouped
        # and Arrow-shipped only for per_list to return empty
        .filter(F.col("list_id").isin([int(x) for x in probe_map]))
        .groupBy("list_id")
        .applyInPandas(per_list, schema=out_schema)
    )
    w = Window.partitionBy("query_id").orderBy("dist", id_col)
    topn = (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_fetch)
    )
    if refine_df is None or refine <= 0:
        return topn.filter(F.col("rank") <= k).select(
            "query_id", "rank", id_col, "dist"
        )

    # exact rerank: candidates ⋈ raw vectors, true L2, re-window
    qdf = index.codes.sparkSession.createDataFrame(
        pd.DataFrame(
            {"query_id": qids, "query_vec": [list(map(float, v)) for v in qmat]}
        ),
        "query_id long, query_vec array<double>",
    )
    # shuffle_hash hint: same stats trap as dedup._rerank (round 11,
    # found live at the 10M spotcheck) — when refine_df's plan carries
    # an understated size estimate (mapInPandas/localCheckpoint keep
    # the source's estimate), the static planner broadcast-builds the
    # ENTIRE vector table. The hint pins the candidate side as the
    # per-partition hash build (Q × refine rows — always the small
    # side), the vector table streams through one id-shuffle; AQE may
    # still broadcast the candidate side from runtime stats.
    exact = (
        topn.select("query_id", id_col)
        .hint("shuffle_hash")
        .join(refine_df.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            id_col,
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        "query_vec",
                        lambda a, b: (a.cast("double") - b)
                        * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("dist"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy("dist", id_col)
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "dist")
    )


def ivfpq_search(
    index: IVFPQIndex,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int | None = None,
    refine_df: DataFrame | None = None,
    refine: int = 0,
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-query convenience wrapper over the batch plan."""
    qpdf = pd.DataFrame(
        {"query_id": [0], "query_vec": [[float(x) for x in query_vec]]}
    )
    return ivfpq_search_batch(
        index, qpdf, k=k, nprobe=nprobe, refine_df=refine_df, refine=refine,
        vec_col=vec_col,
    ).drop("query_id")


@dataclass
class IVFPQPacked:
    """Driver-resident packed IVF-PQ: list-grouped code matrix +
    codebooks. At M=16 a 100M-vector index is 1.6 GB — an index over
    data three orders of magnitude bigger than driver memory could
    hold raw. Built BY Spark (the codes table), collected once."""

    centroids: np.ndarray   # (L, D) float64
    codebooks: np.ndarray   # (M, K, D/M) float64
    codes: np.ndarray       # (N, M) uint8, rows grouped by list_id
    ids: np.ndarray         # (N,) int64
    offsets: np.ndarray     # (L+1,)
    rotation: np.ndarray | None = None  # OPQ rotation (see IVFPQIndex)

    @property
    def rot_centroids(self) -> np.ndarray:
        if self.rotation is None:
            return self.centroids
        rc = getattr(self, "_rot_centroids", None)
        if rc is None:
            rc = self.centroids @ self.rotation.T
            object.__setattr__(self, "_rot_centroids", rc)
        return rc

    @property
    def codes_flat(self) -> np.ndarray:
        """(N, M) intp — codes pre-offset into flattened-LUT indices
        (computed once, reused by every search call)."""
        cf = getattr(self, "_codes_flat", None)
        if cf is None:
            m, k, _ = self.codebooks.shape
            cf = self.codes.astype(np.intp) + _code_offsets(m, k)
            object.__setattr__(self, "_codes_flat", cf)
        return cf

    @property
    def lut_const(self) -> np.ndarray:
        """(L, M, K) precombined ``2·c·cb + ||cb||²`` — the query-
        independent half of the decomposed ADC LUT, computed once per
        index (see :func:`_list_lut_const`)."""
        t = getattr(self, "_lut_const", None)
        if t is None:
            t = _list_lut_const(self.rot_centroids, self.codebooks)
            object.__setattr__(self, "_lut_const", t)
        return t

    @property
    def codes_gb(self) -> np.ndarray:
        """(N,) f32 per-row query-independent ADC half (gB in the
        round-10 split-LUT kernel) — computed once per index from the
        cached list consts, amortized over every search call."""
        g = getattr(self, "_codes_gb", None)
        if g is None:
            g = np.empty(len(self.ids), dtype=np.float32)
            c_all = self.lut_const
            cf = self.codes_flat
            for lid in range(len(self.centroids)):
                s, e = int(self.offsets[lid]), int(self.offsets[lid + 1])
                if e > s:
                    g[s:e] = _gather_b_f32(cf[s:e], c_all[lid])
            object.__setattr__(self, "_codes_gb", g)
        return g


def ivfpq_pack(index: IVFPQIndex) -> IVFPQPacked:
    """Collect the codes table once (Arrow) into list-grouped arrays."""
    id_col = index.id_col
    tbl = index.codes.select("list_id", id_col, "codes").toArrow()
    lists = tbl["list_id"].to_numpy()
    ids = tbl[id_col].to_numpy()
    flat = tbl["codes"].combine_chunks()
    m_subspaces = index.codebooks.shape[0]
    codes = np.asarray(flat.flatten(), dtype=np.int64).reshape(
        len(ids), m_subspaces
    )
    # (list, id) order: id-ascending WITHIN each list, so stable
    # partial cuts in the searchers resolve equal-distance ties by id
    order = np.lexsort((ids, lists))
    lists = lists[order]
    n_lists = index.centroids.shape[0]
    return IVFPQPacked(
        centroids=index.centroids,
        codebooks=index.codebooks,
        codes=np.ascontiguousarray(codes[order].astype(np.uint8)),
        ids=np.ascontiguousarray(ids[order]),
        offsets=np.searchsorted(lists, np.arange(n_lists + 1)),
        rotation=index.rotation,
    )


def ivfpq_search_local(
    packed: IVFPQPacked,
    queries_pdf: pd.DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
) -> pd.DataFrame:
    """Driver-local twin of :func:`ivfpq_search_batch` (ADC, no
    refine): per probed list one flat LUT gather over that list's code
    slice, vectorized global merge. Identical probe selection and
    float64 accumulation order → identical values/ordering to the
    distributed plan. Runs on the calling thread: NumPy fancy-index
    gathers hold the GIL, so fanning query blocks over threads
    measured slower."""
    from fastpyvectordb_spark.ann.ivf import _resolve_nprobe

    nprobe = _resolve_nprobe(nprobe, packed.centroids.shape[0])
    qids = queries_pdf["query_id"].to_numpy()
    qmat = np.stack(
        [np.asarray(v, dtype=np.float64) for v in queries_pdf["query_vec"]]
    )
    nq, dims = qmat.shape
    m_subspaces, n_cent, sub = packed.codebooks.shape
    from fastpyvectordb_spark.ann.ivf import centroid_probe_scores

    cd = centroid_probe_scores(packed.centroids, qmat)
    probe = np.argsort(cd, axis=1)[:, :nprobe]
    # round-10 split-LUT kernel (see _gather_b_f32) — identical op
    # order to the distributed per_list kernel; ADC in the rotated
    # space, probe in the original (see IVFPQIndex). gA's flat f32
    # per-QUERY LUT is built ONCE per call (nq × M·K); gB is cached on
    # the packed index; nothing per-list remains but the gathers.
    qmat_r = qmat if packed.rotation is None else qmat @ packed.rotation.T
    rcoarse = packed.rot_centroids
    a_f = (-2.0 * _query_cb_dots(qmat_r, packed.codebooks)).reshape(
        nq, -1
    ).astype(np.float32)
    g_b = packed.codes_gb

    out_d = np.full((nq, nprobe * k), np.inf, dtype=np.float64)
    out_i = np.full((nq, nprobe * k), -1, dtype=np.int64)
    fill = np.zeros(nq, dtype=np.int64)
    all_rows = np.arange(nq)
    for lid in np.unique(probe):
        s, e = int(packed.offsets[lid]), int(packed.offsets[lid + 1])
        if e <= s:
            continue
        qidx = all_rows[(probe == lid).any(axis=1)]
        cf = packed.codes_flat[s:e]
        af = a_f[qidx]
        d2 = af[:, cf[:, 0]].copy()
        for m in range(1, m_subspaces):
            d2 += af[:, cf[:, m]]
        d2 += g_b[s:e][None, :]
        s_q = ((qmat_r[qidx] - rcoarse[lid]) ** 2).sum(1).astype(
            np.float32
        )
        d2 += s_q[:, None]
        kk = min(k, e - s)
        # tie-aware cut matching the distributed per_list kernel
        from fastpyvectordb_spark.operators.knn import topk_rows_tied

        p = topk_rows_tied(d2, packed.ids[s:e], kk)
        rows = np.arange(len(qidx))[:, None]
        cols = (fill[qidx] * k)[:, None] + np.arange(p.shape[1])[None, :]
        out_d[qidx[:, None], cols] = d2[rows, p]
        out_i[qidx[:, None], cols] = packed.ids[s:e][p]
        fill[qidx] += 1

    kk = min(k, out_d.shape[1])
    rows = np.arange(nq)[:, None]
    # deferred sqrt in float32 like the distributed kernel (bit-equal
    # distances), taken over the whole merge buffer so the global
    # selection sorts the SAME key the distributed window does —
    # (f32-sqrt dist, id). An argpartition on d2 alone could drop the
    # smaller-id member of a boundary tie before ordering ever saw it.
    d_all = np.sqrt(
        np.maximum(out_d, 0.0).astype(np.float32)
    ).astype(np.float64)
    sel = np.lexsort((out_i, d_all), axis=1)[:, :kk]
    d_sorted = d_all[rows, sel]
    i_sorted = out_i[rows, sel]
    valid = np.isfinite(d_sorted).ravel()
    return pd.DataFrame(
        {
            "query_id": np.repeat(qids, kk)[valid],
            "rank": np.tile(np.arange(1, kk + 1), nq)[valid],
            id_col: i_sorted.ravel()[valid],
            "dist": d_sorted.ravel()[valid],
        }
    )
