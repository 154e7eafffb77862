"""kNN search operators (reference: ``vectordb_optimized.py:507-721``,
``parallel_search.py:184-368``).

Two physical strategies, same semantics:

1. **Exact declarative** (`knn`, `knn_batch`): distance expression +
   ``ORDER BY dist, id LIMIT k`` → Catalyst compiles this to
   ``TakeOrderedAndProject`` — per-partition partial top-k then a
   driver-side merge of k-row partials. This *is* the reference's
   chunked-parallel search (``parallel_search.py:313-368``) as a native
   physical plan, and it scales: no shuffle of the full table, only k
   rows per partition move.

2. **GEMM batch kernel** (`knn_batch_gemm`): the reference's all-pairs
   ``Q·Vᵀ`` BLAS trick (``parallel_search.py:246-311``) re-expressed as
   ``mapInPandas`` — queries broadcast to every partition, one NumPy
   GEMM per Arrow batch, partial top-k per partition, then a global
   window-rank merge over only ``num_queries × k × num_partitions``
   candidate rows. At 100 TB this reads each vector exactly once,
   never shuffles the vector table, and keeps Python work
   Arrow-batched.

Filters are **pre-filters** (WHERE before top-k, pushed down to the
parquet scan). The reference post-filters ANN results with a ×10
over-fetch (``vectordb_optimized.py:531-532``) and can silently return
fewer than k rows under selective filters; exact pre-filtering is
strictly better recall and is our pinned semantics (SURVEY §4).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from fastpyvectordb_spark.functions.distances import distance

ROUND_DIGITS = 6  # FIXTURES.md §6: scores rounded to 6 decimals, ties by id


def _qvec_lit(query_vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)).cast("float") for v in query_vec])


def knn(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    metric: str = "cosine",
    pre_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = ROUND_DIGITS,
    keep_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Exact top-k nearest neighbours of a single query vector.

    Plan: scan → (pushed-down) filter → distance expr → TakeOrdered(k).
    ``keep_cols`` rides extra payload columns through the top-k (they
    don't change the plan shape — still TakeOrderedAndProject).
    """
    if pre_filter is not None:
        df = df.filter(pre_filter)
    dist = distance(F.col(vec_col), _qvec_lit(query_vec), metric)
    if round_digits is not None:
        dist = F.round(dist, round_digits)
    return (
        df.select(
            F.col(id_col), dist.alias("dist"),
            *[F.col(c) for c in (keep_cols or [])],
        )
        .orderBy("dist", id_col)
        .limit(k)
    )


def knn_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_digits: int | None = ROUND_DIGITS,
) -> DataFrame:
    """Exact batch kNN: broadcast the (small) query set against the
    vector table and rank within each query.

    Returns ``(query_id, rank, id, dist)``. The window shuffles only by
    ``query_id`` over ``num_queries × N`` scored rows — for large query
    batches prefer :func:`knn_batch_gemm`, which pre-reduces to
    ``queries × k`` per partition before any shuffle.
    """
    dist = distance(F.col(vec_col), F.col(query_vec_col), metric)
    if round_digits is not None:
        dist = F.round(dist, round_digits)
    scored = vectors.crossJoin(
        F.broadcast(queries.select(query_id_col, query_vec_col))
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        dist.alias("dist"),
    )
    w = Window.partitionBy(query_id_col).orderBy("dist", id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "dist")
    )


def topk_rows_tied(d, ids, kk):
    """Row-wise top-``kk`` column indices of ``d`` selected exactly by
    (distance, id). Two regimes:

    - wide rows (``n ≥ max(512, 64·kk)``): sampled-threshold pruning —
      partition a 1/8-stride column sample for a per-row bound on the
      kk-th order statistic (a subset's order stat can only
      OVERestimate it, so ``d ≤ thr`` is a guaranteed superset of the
      true top-kk), then run the exact cut on the narrow candidate
      matrix. Row-wise ``argpartition`` is introselect per row
      (~8 ns/element here); the sample pass plus two streaming passes
      over the matrix cost a fraction of that — measured ~5× on the
      packed-IVF serving kernel's (Q, list) blocks.
    - narrow rows: one ``argpartition`` over the full row.

    Both regimes fall back to a per-row ``lexsort`` ONLY when a
    distance tie actually crosses the cut boundary (or, in the sampled
    regime, when a row's candidate set blows past the cap — massive
    value ties, the duplicate-heavy dedup case). Duplicate-free data
    never pays the sort; duplicate-heavy data gets the exact ORDER BY
    dist, id semantics. ``ids`` is the shared per-column id vector;
    ``d`` must be tie-finite (no NaN)."""
    import numpy as np

    n = d.shape[1]
    if kk >= n:
        return np.broadcast_to(np.arange(n), d.shape)
    if n >= 512 and n >= 64 * kk:
        return _topk_rows_tied_sampled(d, ids, kk)
    return _topk_rows_tied_full(d, ids, kk)


def _topk_rows_tied_full(d, ids, kk):
    """Full-row argpartition cut (kk < n guaranteed by the caller)."""
    import numpy as np

    p = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    thr = np.take_along_axis(d, p, axis=1).max(axis=1)
    n_le = (d <= thr[:, None]).sum(axis=1)
    for r in np.nonzero(n_le > kk)[0]:
        p[r] = np.lexsort((ids, d[r]))[:kk]
    return p


_TOPK_SAMPLE_STRIDE = 8


def _topk_rows_tied_sampled(d, ids, kk):
    """Sampled-threshold exact top-kk (see :func:`topk_rows_tied`).

    Correctness: ``thr0`` is the kk-th smallest of a column SUBSET, so
    every member of the true top-kk has value ≤ true-kkth ≤ thr0 and
    survives the mask; rows whose candidate count exceeds the cap
    (≫ the stride·kk expectation — only under massive value ties) are
    re-cut by the full-row path, and a value tie crossing the kk
    boundary inside the candidate matrix (detected from the kk-th vs
    (kk-1)-th order statistics) triggers the exact per-row lexsort,
    identical to the full path's tie rule."""
    import numpy as np

    nr, n = d.shape
    stride = _TOPK_SAMPLE_STRIDE
    thr0 = np.partition(d[:, ::stride], kk - 1, axis=1)[:, kk - 1]
    mask = d <= thr0[:, None]
    counts = np.count_nonzero(mask, axis=1)
    bad = counts > 4 * stride * kk
    out = np.empty((nr, kk), dtype=np.intp)
    good = ~bad
    if bad.any():
        out[bad] = _topk_rows_tied_full(d[bad], ids, kk)
        if bad.all():
            return out
        mask[bad] = False
        counts = np.where(bad, 0, counts)
    # pack each row's candidate (value, column) pairs into a dense
    # (nr, maxc) matrix padded with the dtype's maximum (inf for
    # floats, iinfo.max for integer keys — the BQ composite-key path);
    # good rows always have ≥ kk candidates (thr0 ≥ the true kk-th
    # order stat)
    maxc = int(counts.max())
    ri, ci = np.nonzero(mask)
    ends = np.cumsum(counts)
    pos = np.arange(ci.size, dtype=np.int64) - np.repeat(ends - counts, counts)
    pad = (
        np.inf
        if np.issubdtype(d.dtype, np.floating)
        else np.iinfo(d.dtype).max
    )
    candd = np.full((nr, maxc), pad, dtype=d.dtype)
    candi = np.zeros((nr, maxc), dtype=np.intp)
    candd[ri, pos] = d[ri, ci]
    candi[ri, pos] = ci
    if maxc == kk:  # every good row has exactly the kk smallest
        out[good] = candi[good]
        return out
    p2 = np.argpartition(candd, (kk - 1, kk), axis=1)
    rows = np.arange(nr)
    thrb = candd[rows, p2[:, kk - 1]]
    sel = np.take_along_axis(candi, p2[:, :kk], axis=1)
    # boundary tie iff the kk-th order stat equals the (kk-1)-th. This
    # also catches the one case where a pad could shadow a real
    # candidate (a genuine value equal to the pad at the boundary):
    # thr == pad forces the tie fallback, which re-cuts from d itself
    tie = candd[rows, p2[:, kk]] == thrb
    for r in np.nonzero(tie & good)[0]:
        sel[r] = np.lexsort((ids, d[r]))[:kk]
    out[good] = sel[good]
    return out


# a pooled matvec cuts rows at multiples of this: every block then
# starts where an OpenBLAS gemv unroll group starts in a whole-matrix
# call, so each row takes the same kernel path and the result is
# bit-identical to ``vmat @ q`` (a cut mid-group moves rows into the
# remainder kernel and can change the last bit)
_MATVEC_BLOCK_ROWS = 1024
# below this many floats one thread is faster than the pool handoff
# (measured crossover ≈ 16K rows × 128 dims on a 4-core Xeon)
_MATVEC_POOL_MIN_FLOATS = 1 << 21


def matvec(vmat, q):
    """``vmat @ q`` for a large C-contiguous ``vmat``, its row blocks
    spread over :func:`session.driver_pool`. With driver BLAS on one
    thread this is how a single-query exact scan uses more than one
    core; the result is bit-identical to ``vmat @ q`` (see
    ``_MATVEC_BLOCK_ROWS``). Not for use on a pool worker: it waits on
    the pool."""
    import numpy as np

    from fastpyvectordb_spark.session import driver_pool, driver_pool_workers

    n = vmat.shape[0]
    nt = min(driver_pool_workers(), n // _MATVEC_BLOCK_ROWS)
    if vmat.size < _MATVEC_POOL_MIN_FLOATS or nt <= 1:
        return vmat @ q
    step = -(-n // nt)
    step = -(-step // _MATVEC_BLOCK_ROWS) * _MATVEC_BLOCK_ROWS
    out = np.empty(n, dtype=np.result_type(vmat, q))

    def block(s: int) -> None:
        np.matmul(vmat[s:s + step], q, out=out[s:s + step])

    # the caller takes the first block itself: one handoff fewer
    futs = [driver_pool().submit(block, s) for s in range(step, n, step)]
    block(0)
    for f in futs:
        f.result()
    return out


def query_blocks(nq: int, per_block: int) -> int:
    """Thread count for a driver-side batch kernel that fans query
    blocks over a pool: one block per core (at most 16), each with at
    least ``per_block`` queries. Driver BLAS runs one thread
    (``session.get_spark``), so query blocks are the parallelism; each
    query's result is independent of the block it lands in."""
    import os

    return max(1, min(16, os.cpu_count() or 1, nq // per_block))


def as_matrix(vecs):
    """``(n, D)`` float32 matrix of a sequence of vectors (lists, arrays
    or a pandas column of either)."""
    import numpy as np

    return np.stack([np.asarray(v, dtype=np.float32) for v in vecs])


def prep_queries(qmat, metric):
    """The one query preparation of every packed kernel: ``(qn, q_sq)``
    for a ``(Q, D)`` float32 query matrix. ``qn`` is the GEMM operand
    (unit rows for cosine, ``qmat`` itself otherwise); ``q_sq`` is the
    ``(Q, 1)`` squared norm :func:`fix_distances` adds for l2, else
    None. Rows are prepared independently, so a query's values do not
    depend on the batch it arrives in."""
    import numpy as np

    if metric == "cosine":
        qn = qmat / (np.linalg.norm(qmat, axis=1, keepdims=True) + 1e-10)
    else:
        qn = qmat
    q_sq = np.einsum("ij,ij->i", qn, qn)[:, None] if metric == "l2" else None
    return qn, q_sq


def fix_distances(d, metric, norms, sqnorms, q_sq):
    """Turn a raw ``(Q, n)`` float32 dot block ``d = qn·vᵀ`` into
    metric distances, in place: cosine ``1 − d/‖v‖`` (``norms`` holds
    ``‖v‖ + 1e-10``), l2 ``√max(‖v‖² − 2d + ‖q‖², 0)``, ip ``−d``.
    ``norms``/``sqnorms`` are the block's per-row values (only the
    metric's own one is read); each caller computes them its own way,
    which keeps its distances what they were."""
    import numpy as np

    if metric == "cosine":
        d /= norms
        np.subtract(1.0, d, out=d)
    elif metric == "l2":
        d *= -2.0
        d += sqnorms
        d += q_sq
        np.sqrt(np.maximum(d, 0.0, out=d), out=d)
    else:  # ip
        np.negative(d, out=d)
    return d


def _gemm_topk_chunked(
    qmat, vmat, ids, k, metric, chunk_floats=8_000_000, n_threads=1
):
    """Q-major chunked GEMM top-k of the raw ``(Q, D)`` query matrix:
    returns (dist (Q,k) f32, idx (Q,k) i64).

    The distance matrix is never materialized whole — work proceeds in
    vector chunks sized so the per-chunk ``(Q, ch)`` buffer stays a few
    MB. Small buffers are reused by the allocator across iterations,
    which matters twice over: cache locality, and environments where
    first-touch page faults on fresh large allocations are expensive
    (VMs with lazy host memory). Q-major layout keeps the per-chunk
    ``argpartition`` row-contiguous.

    ``n_threads > 1`` fans *query blocks* across a thread pool (GEMM
    and argpartition release the GIL). ``session.get_spark`` runs the
    driver's OpenBLAS on one thread, so query-block threading is what
    gives a driver-side GEMM its multi-core speedup. Executor-side
    callers must keep the default 1: Spark already runs one task per
    core.
    """
    import numpy as np

    qn, q_sq = prep_queries(qmat, metric)
    nq = qn.shape[0]
    n = vmat.shape[0]
    kk = min(k, n)
    best_d = np.full((nq, kk), np.inf, dtype=np.float32)
    best_i = np.full((nq, kk), -1, dtype=np.int64)

    def run_queries(qlo: int, qhi: int) -> None:
        qb = qn[qlo:qhi]
        qb_sq = None if q_sq is None else q_sq[qlo:qhi]
        nqb = qhi - qlo
        ch = max(kk, chunk_floats // max(nqb, 1))
        rows = np.arange(nqb)[:, None]
        bd = best_d[qlo:qhi]
        bi = best_i[qlo:qhi]
        for s in range(0, n, ch):
            e = min(s + ch, n)
            vc = np.ascontiguousarray(vmat[s:e], dtype=np.float32)
            d = qb @ vc.T  # (Qb, ch)
            fix_distances(
                d, metric,
                np.linalg.norm(vc, axis=1) + 1e-10 if metric == "cosine"
                else None,
                np.einsum("ij,ij->i", vc, vc) if metric == "l2" else None,
                qb_sq,
            )
            kc = min(kk, e - s)
            # tie-aware cut + (dist, id) merge: distance ties at every
            # boundary keep the smaller id — the ORDER BY dist, id
            # contract (a bare argpartition could drop a tied duplicate
            # vector, the dedup workload's defining case). The cut is
            # argpartition-fast unless a tie actually crosses it.
            p = topk_rows_tied(d, ids[s:e], kc)
            cand_d = np.concatenate([bd, d[rows, p]], axis=1)
            cand_i = np.concatenate([bi, ids[s:e][p]], axis=1)
            sel = np.lexsort((cand_i, cand_d), axis=1)[:, :kk]
            bd[:] = cand_d[rows, sel]
            bi[:] = cand_i[rows, sel]

    n_threads = max(1, min(n_threads, nq))
    if n_threads == 1:
        run_queries(0, nq)
    else:
        from concurrent.futures import ThreadPoolExecutor

        span = -(-nq // n_threads)
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            futs = [
                pool.submit(run_queries, lo, min(lo + span, nq))
                for lo in range(0, nq, span)
            ]
            for f in futs:
                f.result()
    return best_d, best_i


# rows from which the exact single-query scan over-selects with the
# sampled cut of topk_rows_tied instead of a bare argpartition. Per
# query on one core of a 4-core Xeon, whole scan: 10K×128 rows 0.65 ms
# with argpartition against 0.80 ms sampled, level near 30K rows,
# 100K×64 rows 2.7 ms against 2.0 ms
_SAMPLED_CUT_MIN_ROWS = 32_768


def exact_scan(vmat, ids, norms, sqnorms, query_vec, k, metric):
    """The one exact single-query scan over a driver-resident packed
    matrix (the serving pack behind ``Collection.search_local``, or an
    ``ann.ivf.IVFPacked``) — the reference's BLAS vectorized scan
    (``vectordb_optimized.py:650-721``): a pooled :func:`matvec`, the
    shared fixup, an over-select of max(4k, 64) candidates, float64 l2
    distances for the candidates, then ROUND 6 and (dist, id) order —
    the values and order of :func:`knn`. Returns ``(ids, dists)``
    arrays of at most ``k`` hits."""
    import numpy as np

    n = vmat.shape[0]
    if n == 0:
        return ids[:0], np.empty(0, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float32)
    qn, q_sq = prep_queries(q[None, :], metric)
    d = matvec(vmat, qn[0])  # (N,)
    fix_distances(d[None, :], metric, norms, sqnorms, q_sq)
    cand = min(max(4 * k, 64), n)
    if n < _SAMPLED_CUT_MIN_ROWS:
        p = np.argpartition(d, cand - 1)[:cand]
    else:
        p = topk_rows_tied(d[None, :], ids, cand)[0]
    if metric == "l2":
        # the fp32 dot expansion loses ~1e-3 absolute near zero
        # (cancellation): the candidates' distances are recomputed
        # exactly in float64 before the final cut
        diff = vmat[p].astype(np.float64) - q.astype(np.float64)
        dp = np.sqrt(np.einsum("ij,ij->i", diff, diff))
    else:
        dp = d[p].astype(np.float64)
    dr = np.round(dp, ROUND_DIGITS)
    order = np.lexsort((ids[p], dr))[:k]
    return ids[p[order]], dr[order]


def exact_scan_batch(vmat, ids, queries_pdf, k, metric, id_col="vec_id"):
    """The one exact batch scan over a driver-resident matrix — the
    reference's batch-GEMM search (``parallel_search.py:246-311``):
    :func:`_gemm_topk_chunked` fanned over query blocks, then a
    vectorized per-query (dist, id) sort. ``queries_pdf`` has
    ``query_id`` and ``query_vec``; returns pandas ``(query_id, rank,
    <id_col>, dist)`` with unrounded distances, like
    :func:`knn_batch_gemm`."""
    import numpy as np

    qids = queries_pdf["query_id"].to_numpy()
    nq = len(qids)
    kk = min(k, len(ids))
    # ≥ 8 queries per block (4-core Xeon, 100K×128: 32 queries
    # 69 → 55 ms at 4 blocks; 256 queries 369 → 128 ms)
    d_sel, i_sel = _gemm_topk_chunked(
        as_matrix(queries_pdf["query_vec"]), vmat, ids, kk, metric,
        n_threads=query_blocks(nq, 8),
    )
    order = np.lexsort((i_sel, d_sel), axis=1)
    return pd.DataFrame(
        {
            "query_id": np.repeat(qids, kk),
            "rank": np.tile(np.arange(1, kk + 1), nq),
            id_col: np.take_along_axis(i_sel, order, axis=1).ravel(),
            "dist": np.take_along_axis(d_sel, order, axis=1)
            .ravel()
            .astype("float64"),
        }
    )


def knn_batch_gemm(
    vectors: DataFrame,
    queries_pdf: pd.DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch kNN via per-partition NumPy GEMM + partial top-k.

    ``queries_pdf`` must have columns ``query_id`` (int64) and
    ``query_vec`` (list[float32]); it is closure-broadcast to executors.
    Output: ``(query_id, rank, <id_col>, dist)`` — globally exact.
    """
    import numpy as np

    qids = queries_pdf["query_id"].to_numpy()
    qmat = as_matrix(queries_pdf["query_vec"])

    id_type = vectors.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            # the id column keeps its own type (string ids work)
            StructField(id_col, id_type),
            StructField("dist", DoubleType()),
        ]
    )

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            vmat = as_matrix(pdf[vec_col])
            # ascending ids → the kernel's stable cuts break distance
            # ties by id, matching the global window's ORDER BY; the
            # kernel itself ranks by POSITION (== id order here), so
            # its int64 merge buffers serve any id type
            o = np.argsort(ids, kind="stable")
            ids, vmat = ids[o], vmat[o]
            kk = min(k, len(ids))
            pos = np.arange(len(ids), dtype=np.int64)
            best_d, best_i = _gemm_topk_chunked(qmat, vmat, pos, kk, metric)
            best_i = ids[best_i]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, kk),
                    id_col: best_i.ravel(),
                    "dist": best_d.ravel().astype("float64"),
                }
            )

    partials = vectors.select(id_col, vec_col).mapInPandas(part, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy("dist", id_col)
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "dist")
    )


def coarse_then_rerank(
    vectors: DataFrame,
    candidates: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """K9 (ref parallel_search.py:895-947 ``search_hybrid``): a coarse
    stage (ANN buckets, BQ hamming, PQ ADC, IVF probes — anything that
    yields an id set) feeds an exact rerank: candidate semi-join →
    distance expr → TakeOrdered(k). ``candidates`` needs only the id
    column."""
    cand_ids = candidates.select(F.col(id_col)).distinct()
    return knn(
        vectors.join(cand_ids, id_col, "left_semi"),
        query_vec, k=k, metric=metric, id_col=id_col, vec_col=vec_col,
    )


# a vector table smaller than this many floats is cheaper to GEMM on
# the driver than to schedule tasks for (~80 MB of f32)
LOCAL_GEMM_THRESHOLD = 20_000_000


def knn_batch_auto(
    vectors: DataFrame,
    queries_pdf: pd.DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    local_threshold: int = LOCAL_GEMM_THRESHOLD,
):
    """Adaptive batch kNN: below ``local_threshold`` total floats the
    table is collected once and searched with a single local BLAS GEMM
    (the reference's ``search_batch_parallel`` kernel — at small scale
    a distributed plan is pure scheduling overhead); above it, the
    distributed :func:`knn_batch_gemm` plan runs. Returns a pandas
    DataFrame (query_id, rank, id, dist) either way.
    """
    import numpy as np

    # one sizing job, not count()+head() (two scans): every row has the
    # same dim (enforced at ingest), so first(size) == the table dim
    sizing = vectors.agg(
        F.count(F.lit(1)).alias("n"), F.first(F.size(vec_col)).alias("d")
    ).head()
    n, dims = sizing["n"], sizing["d"]
    if not n:
        return pd.DataFrame(columns=["query_id", "rank", id_col, "dist"])
    if n * dims > local_threshold:
        return knn_batch_gemm(
            vectors, queries_pdf, k=k, metric=metric,
            id_col=id_col, vec_col=vec_col,
        ).toPandas()

    # collect via Arrow and reshape the flat child buffer — zero
    # Python-object churn (toPandas + np.stack over 100k list cells is
    # ~100x slower)
    tbl = vectors.select(id_col, vec_col).toArrow()
    ids = tbl[id_col].to_numpy()
    flat = tbl[vec_col].combine_chunks()
    vmat = np.asarray(flat.flatten(), dtype=np.float32).reshape(len(ids), dims)
    o = np.argsort(ids, kind="stable")  # ties-by-id in the kernel cuts
    ids, vmat = ids[o], np.ascontiguousarray(vmat[o])
    return exact_scan_batch(vmat, ids, queries_pdf, k, metric, id_col)
