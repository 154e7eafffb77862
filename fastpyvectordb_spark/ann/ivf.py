"""IVF (inverted-file) ANN: coarse KMeans partitioning + probed scan.

The classic batch-built ANN index for a data-parallel engine
(BASELINE.json: "MLlib/DataFrame batch index build"):

1. build: seeded KMeans (:mod:`ann.kmeans`, k-means|| + GEMM Lloyd on a
   bounded driver sample) → ``n_lists`` coarse centroids; each vector
   is assigned to its nearest list by a Spark column. Persisting the table
   *partitioned by list_id* turns every probe into partition pruning —
   at 100 TB a 4096-list index means a 16-probe query reads ~0.4% of
   the data.
2. search: rank centroids by distance to the query, scan the nearest
   ``nprobe`` lists, exact-rerank candidates (same TakeOrdered merge as
   the exact path).

Recall is tunable via nprobe and validated against the exact operator
(recall@k, reference-style harness).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastpyvectordb_spark.ann.kmeans import assign_col, fit_sample, train
from fastpyvectordb_spark.operators.knn import (
    as_matrix,
    fix_distances,
    knn,
    prep_queries,
    topk_rows_tied,
)


def centroid_probe_scores(centroids: np.ndarray, qmat) -> np.ndarray:
    """``(Q, L)`` centroid-ranking scores: ``‖c‖² − 2·q·c`` — squared
    distance minus the per-query constant ``‖q‖²``, computed as one
    ``(Q, D)×(D, L)`` float64 GEMM instead of the ``(Q, L, D)``
    broadcast tensor (17.9 → 0.8 ms at Q=1024, L=64 — the broadcast
    materializes a 33 MB temporary on the serving hot path). Per-query
    ORDER equals the true squared-distance order. Every probe-selection
    site (single/batch/local/packed, IVF and IVF-PQ) shares this one
    expression so probe choices — including argsort tie resolution,
    which depends on the exact float values — stay identical across
    paths."""
    c = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(qmat, dtype=np.float64)
    c_sq = np.einsum("ij,ij->i", c, c)
    return c_sq[None, :] - 2.0 * (q @ c.T)


def auto_nprobe(n_lists: int, floor: int = 8) -> int:
    """Probe width for ``nprobe=None``: ``max(floor, ⌊√n_lists⌋ // 2)``
    — grows with the index (coverage insurance as neighborhoods get
    harder) but keeps per-query cost SUBLINEAR: with √N-auto lists
    this is ≈N^0.25 probes → N^0.75/2 rows scanned, vs 0.025·N for a
    constant scan fraction (linear — the exact scan's cost law) and a
    flat 8·√N for a fixed count. Width 8 at the 100k bench point
    (316 lists), 28 at 10M (3,162 lists).

    Calibrated by the round-11 10M decomposition (tools/
    scale_spotcheck.py big): candidate COVERAGE at 8 probes over
    3,162 lists measured 1.0000 (every exact top-10 neighbor's list
    probed; refined recall identical at nprobe 8 and 32), while raw
    ADC recall sat FLAT at 0.80 from 8 to 80 probes — on clusterable
    data the coverage term doesn't bind, and a fraction-holding
    default (first r11 cut) paid 2.8× batch wall for nothing. Probe
    growth is kept (slowly) because coverage loss is data-dependent;
    the measured flat range says anything in [8, 80] is
    recall-equivalent at 10M, and √/2 stays inside it for another
    two decades of scale. Floor of 8 keeps tiny indexes from probing
    too few lists to fill k."""
    import math

    return max(1, min(n_lists, max(floor, math.isqrt(n_lists) // 2)))


def _resolve_nprobe(nprobe: int | None, n_lists: int) -> int:
    """``None`` → :func:`auto_nprobe`; ints clamp to the list count."""
    if nprobe is None:
        return auto_nprobe(n_lists)
    return max(1, min(int(nprobe), n_lists))


def default_colocate_partitions(df: DataFrame) -> int:
    """Partition count for ``colocate()`` when the caller didn't pin
    one: ``spark.sql.shuffle.partitions`` — except that conf is the
    non-numeric string ``"auto"`` on AQE-managed deployments, where we
    fall back to the input's current partition count (ADVICE r8)."""
    try:
        return int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    except ValueError:
        return max(1, df.rdd.getNumPartitions())


@dataclass
class IVFIndex:
    centroids: np.ndarray  # (n_lists, D)
    assigned: DataFrame    # original cols + list_id

    def save(self, path: str) -> None:
        """Partitioned-by-list parquet: probes become partition pruning."""
        self.assigned.write.mode("overwrite").partitionBy("list_id").parquet(path)

    def colocate(self, n_partitions: int | None = None) -> "IVFIndex":
        """Materialize ``assigned`` hash-partitioned by ``list_id`` —
        the in-memory twin of :meth:`save`'s at-rest layout. Every
        :func:`ivf_search_batch` call groups by list_id; against an
        arbitrarily-partitioned table that is a full corpus shuffle
        PER BATCH. Pre-partitioning makes the per-call exchange a
        partition-local pass-through (each mapper feeds exactly one
        reducer — rows are already co-located, so nothing crosses the
        wire that wasn't going to its own partition), measured +60%
        batch QPS at 100k×64. Mutates ``assigned`` in place and
        returns self for chaining."""
        if n_partitions is None:
            n_partitions = default_colocate_partitions(self.assigned)
        self.assigned = self.assigned.repartition(
            n_partitions, "list_id"
        ).localCheckpoint()
        return self


@dataclass
class IVFPacked:
    """Driver-resident packed form of an IVF index: vectors grouped by
    list in one contiguous float32 matrix, with per-list offsets and
    precomputed norms. The in-memory analogue of the reference's HNSW
    index object (``vectordb_optimized.py:271-280``) — but *built by a
    Spark job* and only collected when it fits (100K×64 f32 ≈ 26 MB).
    Above the size threshold, :func:`ivf_search_auto` stays on the
    distributed plan instead.
    """

    centroids: np.ndarray  # (L, D) float64
    vmat: np.ndarray       # (N, D) float32, rows grouped by list_id
    ids: np.ndarray        # (N,) int64
    offsets: np.ndarray    # (L+1,) — list l occupies [offsets[l], offsets[l+1])
    norms: np.ndarray      # (N,) float32 — ||v|| + 1e-10 (cosine)
    sqnorms: np.ndarray    # (N,) float32 — ||v||² (l2)

    @classmethod
    def build(cls, centroids, lists, ids, vmat) -> "IVFPacked":
        """The one pack builder: rows sorted by (list, id) — id-ascending
        inside each list, so stable partial cuts resolve distance ties
        by id — with per-list offsets and precomputed norms."""
        order = np.lexsort((ids, lists))
        lists = lists[order]
        vmat = np.ascontiguousarray(vmat[order])
        sqnorms = np.einsum("ij,ij->i", vmat, vmat)
        return cls(
            centroids=centroids,
            vmat=vmat,
            ids=np.ascontiguousarray(ids[order]),
            offsets=np.searchsorted(lists, np.arange(centroids.shape[0] + 1)),
            norms=np.sqrt(sqnorms).astype(np.float32) + np.float32(1e-10),
            sqnorms=sqnorms.astype(np.float32),
        )


def ivf_build(
    df: DataFrame,
    n_lists: int | None = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    train_rows: int | None = None,
) -> IVFIndex:
    """Coarse-quantizer training quality is the whole recall game:
    round 1 trained with maxIter=5 and paid for it (ivf recall 0.87,
    ivfpq refined 0.72 at sf-bench knobs); at maxIter=20 the same index
    shapes reach ≥0.95. Training is :func:`ann.kmeans.train` on a
    bounded driver sample (``train_rows`` rows, else the FAISS rule of
    ~256 per list with a 100K floor — fit on a sample, assign
    everything); assignment always covers the full table through
    :func:`ann.kmeans.assign_col`. ``n_lists=None`` auto-sizes to ≈√N
    clamped to [16, 65536] (the same FAISS rule as
    :func:`ann.ivfpq.ivfpq_build`) — at 100k that is 316 lists, where
    the packed serving kernel measured 10,182 QPS at recall 1.0 on the
    bench corpus vs 5,620 at the old fixed-64 point (8 probes scan
    2.5% of rows instead of 12.5%)."""
    n_rows = None
    if n_lists is None:
        n_rows = df.count()
        n_lists = max(16, min(65536, int(round(n_rows ** 0.5))))
    sample = fit_sample(df, vec_col, n_lists, seed, n_rows, train_rows)
    centroids = train(sample, n_lists, max_iter, seed)
    assigned = df.withColumn("list_id", assign_col(F.col(vec_col), centroids))
    return IVFIndex(centroids=centroids, assigned=assigned)


def ivf_search(
    index: IVFIndex,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int | None = None,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    nprobe = _resolve_nprobe(nprobe, index.centroids.shape[0])
    q = np.asarray(query_vec, dtype=np.float64)
    d = centroid_probe_scores(index.centroids, q[None, :])[0]
    probe = [int(i) for i in np.argsort(d)[:nprobe]]
    cands = index.assigned.filter(F.col("list_id").isin(probe))
    return knn(cands, query_vec, k=k, metric=metric, id_col=id_col, vec_col=vec_col)


def ivf_search_batch(
    index: IVFIndex,
    queries_pdf,
    k: int = 10,
    nprobe: int | None = None,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch ANN: every query probes its ``nprobe`` nearest lists
    (``None`` → :func:`auto_nprobe`, sublinear width growth); each
    list is scanned ONCE for all queries probing it (one GEMM per list
    against that list's query subset), then a global window merge keeps
    the exact top-k of the probed candidates.

    ``queries_pdf`` needs columns ``query_id`` (int64) and ``query_vec``.
    The probe map (query→lists) is computed driver-side against the
    (tiny) centroid table and closure-shipped; the vector table is
    grouped by ``list_id`` — with a saved index partitioned by list the
    shuffle disappears into partition pruning. Output:
    ``(query_id, rank, <id_col>, dist)``.
    """
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from fastpyvectordb_spark.operators.knn import _gemm_topk_chunked

    nprobe = _resolve_nprobe(nprobe, index.centroids.shape[0])
    qids = queries_pdf["query_id"].to_numpy()
    qmat = as_matrix(queries_pdf["query_vec"])
    # per-query probe lists against the centroids (driver-side, tiny)
    cd = centroid_probe_scores(index.centroids, qmat)
    probe = np.argsort(cd, axis=1)[:, :nprobe]  # (Q, nprobe)
    probe_map: dict[int, np.ndarray] = {}
    for lid in np.unique(probe):
        probe_map[int(lid)] = np.nonzero((probe == lid).any(axis=1))[0]

    # id column keeps ITS OWN type (string collection ids work, not
    # just the synthetic bigint vec_id)
    id_type = index.assigned.schema[id_col].dataType
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
            return pd.DataFrame(
                {"query_id": [], id_col: [], "dist": []}
            ).astype({"query_id": "int64", id_col: id_np, "dist": "float64"})
        ids = pdf[id_col].to_numpy()
        vmat = as_matrix(pdf[vec_col])
        o = np.argsort(ids, kind="stable")  # ties-by-id in kernel cuts
        ids, vmat = ids[o], vmat[o]
        kk = min(k, len(ids))
        # the kernel ranks by (dist, POSITION): rows are id-ascending,
        # so position ties == id ties, and the int64 position buffer
        # works for string ids too (mapped back through ids[...])
        pos = np.arange(len(ids), dtype=np.int64)
        d, i = _gemm_topk_chunked(qmat[qidx], vmat, pos, kk, metric)
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids[qidx], kk),
                id_col: ids[i.ravel()],
                "dist": d.ravel().astype("float64"),
            }
        )

    partials = (
        index.assigned.select("list_id", id_col, vec_col)
        # prune to the probed lists BEFORE the shuffle: without this
        # every list is grouped, Arrow-shipped and scanned only for
        # per_list to return empty — at n_lists=4096/nprobe=16 that is
        # 99.6% wasted movement of the whole index
        .filter(F.col("list_id").isin([int(x) for x in probe_map]))
        .groupBy("list_id")
        .applyInPandas(per_list, schema=out_schema)
    )
    w = Window.partitionBy("query_id").orderBy("dist", id_col)
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "dist")
    )


def ivf_pack(
    index: IVFIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IVFPacked:
    """Collect the assigned table once (Arrow, zero Python-object churn)
    into list-grouped contiguous arrays with precomputed norms."""
    tbl = index.assigned.select("list_id", id_col, vec_col).toArrow()
    ids = tbl[id_col].to_numpy()
    flat = tbl[vec_col].combine_chunks()
    vmat = np.asarray(flat.flatten(), dtype=np.float32).reshape(len(ids), -1)
    return IVFPacked.build(
        index.centroids, tbl["list_id"].to_numpy(), ids, vmat
    )


def ivf_search_local_one(
    packed: IVFPacked,
    query_vec,
    k: int = 10,
    nprobe: int | None = None,
    metric: str = "cosine",
):
    """Pandas-free single-query probed search over the packed index:
    the same per-list ``(1, n_l)`` GEMM + elementwise fixups as
    :func:`ivf_search_local`, with ONE global tie-aware (dist, id) cut
    over the concatenated candidates instead of per-list cuts + a
    merge buffer. Returns ``(ids, dists)`` — ids from ``packed.ids``,
    dists float64 UNROUNDED — ordered by (dist, id). Bit-identical to
    the batch path at nq==1 for one BLAS build and thread count
    (identical BLAS call shapes, and top-k by (dist, id) over all
    candidates equals the (dist, id) merge of tie-aware per-list
    top-ks — pinned by a stash-comparison run and the single-vs-batch
    tests). Across thread counts identity does not hold: with OpenBLAS
    0.3.23 on a 4-core Xeon, a ``(1, 128) @ (128, n)`` GEMM differs by
    up to 5e-6 between 4 threads and 1 for n from 100 to 700.
    The serving hot path (REST ANN route,
    ``Collection.search_ann``) calls this directly to skip two
    DataFrame constructions per request."""
    nprobe = _resolve_nprobe(nprobe, packed.centroids.shape[0])
    qmat = as_matrix([query_vec])
    qn, q_sq = prep_queries(qmat, metric)
    cd = centroid_probe_scores(packed.centroids, qmat)
    probe = np.argsort(cd, axis=1)[:, :nprobe]
    ds, iss = [], []
    for lid in probe[0]:
        s, e = int(packed.offsets[lid]), int(packed.offsets[lid + 1])
        if e <= s:
            continue
        d = fix_distances(
            qn @ packed.vmat[s:e].T, metric,
            packed.norms[s:e], packed.sqnorms[s:e], q_sq,
        )
        ds.append(d[0])
        iss.append(packed.ids[s:e])
    if not ds:
        return (
            np.empty(0, dtype=packed.ids.dtype),
            np.empty(0, dtype=np.float64),
        )
    d_all = np.concatenate(ds)[None, :]
    i_all = np.concatenate(iss)
    kk = min(k, d_all.shape[1])
    p = topk_rows_tied(d_all, i_all, kk)[0]
    order = p[np.lexsort((i_all[p], d_all[0, p]))]
    return i_all[order], d_all[0, order].astype(np.float64)


# mean multiply-adds per probed list above which the batched local
# scan pools its lists (see ivf_search_local)
_POOL_LIST_MIN_WORK = 1 << 21


def ivf_search_local(
    packed: IVFPacked,
    queries_pdf,
    k: int = 10,
    nprobe: int | None = None,
    metric: str = "cosine",
    id_col: str = "vec_id",
) -> "pd.DataFrame":
    """Batched IVF search over the packed index, pure NumPy: one GEMM
    per probed list against that list's query subset (same kernel shape
    as :func:`ivf_search_batch`, minus scheduling/Arrow transfer), then
    a vectorized per-query merge of the ``nprobe × k`` partials.

    Returns a pandas DataFrame ``(query_id, rank, <id_col>, dist)`` —
    identical values/ordering to the distributed path.
    """
    import pandas as pd

    nprobe = _resolve_nprobe(nprobe, packed.centroids.shape[0])
    qids = queries_pdf["query_id"].to_numpy()
    nq = len(qids)

    if nq == 1:
        # fused single-query fast path — delegates to the pandas-free
        # kernel (see ivf_search_local_one), which does its OWN probe
        # selection, so the branch sits before the batch path's
        # qmat/qn/centroid-GEMM setup (none of that work is shared).
        # Measured 7.5 ms → ~1.5 ms per query at 100k×64 / nprobe 8.
        i_sel, d_sel = ivf_search_local_one(
            packed, queries_pdf["query_vec"].iloc[0], k=k,
            nprobe=nprobe, metric=metric,
        )
        kk = len(i_sel)
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids, kk),
                "rank": np.arange(1, kk + 1),
                id_col: i_sel,
                "dist": d_sel,
            }
        )

    qmat = as_matrix(queries_pdf["query_vec"])
    qn, q_sq = prep_queries(qmat, metric)
    # probe selection: same expression as the distributed path, so both
    # paths pick identical lists (incl. tie order from argsort)
    cd = centroid_probe_scores(packed.centroids, qmat)
    probe = np.argsort(cd, axis=1)[:, :nprobe]  # (Q, nprobe)
    out_d = np.full((nq, nprobe * k), np.inf, dtype=np.float32)
    out_i = np.full((nq, nprobe * k), -1, dtype=np.int64)

    def scan_list(lid: int) -> None:
        # each (query, probe-position) pair names exactly one list, so
        # lists write DISJOINT (row, slot) cells of the merge buffer —
        # the loop is embarrassingly parallel with no fill counter
        s, e = int(packed.offsets[lid]), int(packed.offsets[lid + 1])
        if e <= s:
            return
        qidx, jidx = np.nonzero(probe == lid)
        d = fix_distances(
            qn[qidx] @ packed.vmat[s:e].T,  # (Q_l, n_l)
            metric, packed.norms[s:e], packed.sqnorms[s:e],
            None if q_sq is None else q_sq[qidx],
        )
        kk = min(k, e - s)
        # tie-aware cut: argpartition speed, (dist, id) exactness when
        # a distance tie crosses the boundary
        p = topk_rows_tied(d, packed.ids[s:e], kk)
        rows = np.arange(len(qidx))[:, None]
        cols = (jidx * k)[:, None] + np.arange(p.shape[1])[None, :]
        out_d[qidx[:, None], cols] = d[rows, p]
        out_i[qidx[:, None], cols] = packed.ids[s:e][p]

    # The per-list scan pools over the probed lists only when BLAS runs
    # one thread (the driver, see session.get_spark) AND the mean
    # per-list GEMM is large. GEMM/fixup/argpartition release the GIL
    # and per-list math is schedule-independent (bit-identical to
    # serial), but each list also pays GIL-bound indexing: with small
    # lists the pool only adds contention. Measured on a 4-core Xeon,
    # 100K×128 rows, nprobe 8, one BLAS thread: 64 lists/256 queries
    # (6.4M multiply-adds per list) 113 ms serial vs 62 ms on 4
    # threads; 316 lists/256 queries (0.26M) 64 ms serial vs 119 ms on 4.
    # With a multi-threaded BLAS a pool on top oversubscribes (round
    # 11: 3.4-7× slower than serial).
    import os as _os

    from fastpyvectordb_spark.session import blas_threads

    uniq = [int(x) for x in np.unique(probe)]
    sizes = np.diff(packed.offsets)
    list_work = sizes[probe].sum() * qn.shape[1] / max(len(uniq), 1)
    if blas_threads() == 1 and list_work >= _POOL_LIST_MIN_WORK:
        nt = max(1, min(16, _os.cpu_count() or 1, len(uniq)))
    else:
        nt = 1
    if nt <= 1:
        for lid in uniq:
            scan_list(lid)
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=nt) as pool:
            list(pool.map(scan_list, uniq))

    kk = min(k, out_d.shape[1])
    rows = np.arange(nq)[:, None]
    # global merge selects by (dist, id) — the buffer is only
    # nprobe·k wide, so a full lexsort costs nothing here
    sel = np.lexsort((out_i, out_d), axis=1)[:, :kk]
    d_sorted = out_d[rows, sel]
    i_sorted = out_i[rows, sel]
    valid = np.isfinite(d_sorted).ravel()
    return pd.DataFrame(
        {
            "query_id": np.repeat(qids, kk)[valid],
            "rank": np.tile(np.arange(1, kk + 1), nq)[valid],
            id_col: i_sorted.ravel()[valid],
            "dist": d_sorted.ravel()[valid].astype("float64"),
        }
    )


# same driver-memory regime as Collection.SERVING_PACK_MAX_FLOATS:
# below this many floats the packed index is cheaper than task
# scheduling (round 7: sized to the reference's always-in-RAM model —
# 80M floats = 320 MB packed, 1M × 64-dim rows stay resident)
LOCAL_PACK_THRESHOLD = 80_000_000


def ivf_search_auto(
    index: IVFIndex,
    queries_pdf,
    k: int = 10,
    nprobe: int | None = None,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    local_threshold: int = LOCAL_PACK_THRESHOLD,
):
    """Adaptive batch IVF: when the index fits the driver threshold it
    is packed once (cached on the IVFIndex) and searched locally — the
    reference's in-memory-index regime; otherwise the distributed
    per-list plan runs. Returns pandas either way."""
    # cache key includes the column names: a pack built from
    # (vec_id, embedding) silently served for a (doc_id, emb2) call
    # would return stale ids/vectors under the new names
    packed = getattr(index, "_packed", None)
    if getattr(index, "_packed_cols", None) != (id_col, vec_col):
        packed = None
    if packed is None:
        first = index.assigned.select(F.size(vec_col).alias("d")).head()
        if first is None:
            import pandas as pd

            return pd.DataFrame(columns=["query_id", "rank", id_col, "dist"])
        if index.assigned.count() * first["d"] <= local_threshold:
            packed = ivf_pack(index, id_col=id_col, vec_col=vec_col)
            index._packed = packed
            index._packed_cols = (id_col, vec_col)
    if packed is not None:
        return ivf_search_local(
            packed, queries_pdf, k=k, nprobe=nprobe, metric=metric, id_col=id_col
        )
    return ivf_search_batch(
        index, queries_pdf, k=k, nprobe=nprobe, metric=metric,
        id_col=id_col, vec_col=vec_col,
    ).toPandas()


def ivf_add(
    index: IVFIndex,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IVFIndex:
    """Incremental index maintenance: assign NEW vectors to their
    nearest existing list (:func:`ann.kmeans.assign_col` — one narrow
    pass over the new rows, no retrain, no touch of existing
    assignments) and union them in. Returns a new IVFIndex sharing the
    centroids — the standard IVF ingest path; periodic re-train is a
    separate maintenance job (rebuild with ivf_build)."""
    assigned_new = new_df.withColumn(
        "list_id", assign_col(F.col(vec_col), index.centroids)
    )
    merged = index.assigned.unionByName(assigned_new)
    return IVFIndex(centroids=index.centroids, assigned=merged)
