"""NSW graph index — per-partition navigable-small-world artifacts.

The reference's flagship accelerator is hnswlib (C++ HNSW,
``vectordb_optimized.py:271-280``, search ``:507-575``). This module
implements the same *family* of index natively — a navigable small
world graph (Malkov et al. 2014; HNSW's single-layer ancestor and the
structure of HNSW's layer 0) — per data partition, using the
partitioned-artifact machinery of :mod:`ann.partitioned`:

- **build** (inside each partition's build task): LOCKSTEP batched
  insertion — points insert in geometrically ramping batches
  (1, 2, 4, … ``batch_size``); each batch beam-searches the current
  graph for every new point SIMULTANEOUSLY via the vectorized kernel
  below, then links bidirectionally with degree-pruning. Early
  batches are tiny (graph topology is decided early), so quality
  stays near sequential insertion while the per-point Python/NumPy
  dispatch overhead — which dominated the round-3 build at ~4 ms per
  point — amortizes across the whole batch.
- **search**: the same lockstep kernel, one lane per (graph, query):
  the candidate heap / visited set of hnswlib's layer-0 search, with
  every lane's frontier expanded in one NumPy step per iteration.
- **artifact**: ``(ids, vmat, neighbors (n, m_max) int32, entry)``
  packed into the same one-row-per-partition binary layout, saved and
  served through the same ``save_index``/``open_index`` cache.
- **local twin** (:func:`nsw_pack` / :func:`nsw_search_local`): the
  partition artifacts concatenate into ONE node array (neighbor ids
  offset-shifted; partitions become disconnected components with their
  own entry points), so a Q-query batch runs as parts×Q lanes of a
  single lockstep search — the in-memory serving regime the reference
  gets from hnswlib.

Where the graph pays: intra-partition sublinear search. At 3k-point
partitions a flat scan is already sub-millisecond and scheduling
dominates — but at 10⁵-10⁶-row partitions (the 100 TB regime) the
graph's ~``ef·m_max·log n`` distance evaluations replace a
full-partition scan. The recall gates in ``tests/test_ann.py`` pin
quality against the exact operator.

Cosine note: vectors are searched by L2 over unit-normalized copies
when ``metric='cosine'`` (ordering-equivalent), matching the
reference's normalize-at-ingest behavior.

Serving-twin strategy note (round 6, measured): a *merged* multi-entry
traversal over the packed components — one lockstep beam per query
seeded with every component entry, shared ``ef`` budget — was
prototyped and REJECTED. Because :func:`nsw_build` partitions by id
hash, every component is a uniform random sample of the corpus, so the
true top-k of any query is spread across ~all components; a shared
ef=96 beam starves 31 of 32 descents and recall@10 collapsed to ~0.10
on the bench corpus (vs 1.00 per-component; forced entry expansion,
wider beams, and w up to 16 moved it only to ~0.12). Per-component
traversal of every component keeps recall 1.00 but pays ~32× the
gather traffic of one GEMM at 3k-node components (~200 QPS measured).
The exact-GEMM fallback below ``GRAPH_MIN_NODES`` is therefore the
*optimal* serving strategy for hash-partitioned packs at bench scale —
its throughput is capped by full-scan memory bandwidth, which is why
``ivf_local`` (spatially-coherent lists + nprobe pruning) is the
documented serving default (README §Serving) and the graph path is
reserved for the ≥10⁵-node-per-partition regime it was built for.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NSW_SCHEMA = (
    "part_id int, n int, dims int, m_max int, entry int, "
    "ids binary, vmat binary, neighbors binary"
)


def _greedy_search_batch(
    vmat: np.ndarray,
    neighbors: np.ndarray,
    degrees: np.ndarray,  # kept for signature clarity; padding is -1
    entries: np.ndarray,
    Q: np.ndarray,
    ef: int,
    expand_width: int = 1,
) -> tuple[np.ndarray, np.ndarray]:
    """Lockstep beam search: ``B`` independent lanes advance together,
    all distance math in batched NumPy (gather + einsum). ``entries``
    is per-lane (lanes on different graph components start at
    different entry points).

    ``expand_width`` expands that many closest-unexpanded candidates
    per lane per iteration instead of one — iteration count (the
    Python-dispatch overhead) drops ~w×; a lane still terminates by the
    hnswlib layer-0 rule (closest unexpanded beats the full beam's
    worst), so widths > 1 only do EXTRA expansions past the stop point,
    never fewer — recall can only go up. Returns ``(idx (B, ef),
    dist (B, ef))`` sorted ascending per lane; unfilled slots are
    ``-1`` / ``inf``.
    """
    B, n = Q.shape[0], vmat.shape[0]
    if B == 0 or n == 0:
        return (
            np.full((B, ef), -1, np.int64),
            np.full((B, ef), np.inf),
        )
    w = max(1, min(expand_width, ef))
    beam_idx = np.full((B, ef), -1, np.int64)
    beam_d = np.full((B, ef), np.inf)
    expanded = np.zeros((B, ef), dtype=bool)
    visited = np.zeros((B, n), dtype=bool)
    lane = np.arange(B)
    d0 = ((vmat[entries] - Q) ** 2).sum(axis=1)
    beam_idx[:, 0] = entries
    beam_d[:, 0] = d0
    visited[lane, entries] = True
    active = np.ones(B, dtype=bool)
    m_max = neighbors.shape[1]
    while True:
        # per-lane w closest unexpanded beam members
        dmask = np.where(expanded | (beam_idx < 0), np.inf, beam_d)
        ci = (
            np.argpartition(dmask, w - 1, axis=1)[:, :w]
            if w < ef
            else np.argsort(dmask, axis=1)[:, :w]
        )
        cdw = np.take_along_axis(dmask, ci, axis=1)  # (B, w)
        cd = cdw.min(axis=1)
        full = (beam_idx >= 0).all(axis=1)
        worst = np.where(full, beam_d.max(axis=1), np.inf)
        active &= np.isfinite(cd) & (cd <= worst)
        act = np.nonzero(active)[0]
        if act.size == 0:
            break
        cand = np.take_along_axis(beam_idx[act], ci[act], axis=1)  # (A, w)
        # inf slots in the w-selection are empty/expanded — mask them
        cand = np.where(np.isfinite(cdw[act]), cand, -1)
        exp_a = expanded[act]
        np.put_along_axis(exp_a, ci[act], True, axis=1)
        expanded[act] = exp_a
        nbrs3 = neighbors[np.where(cand >= 0, cand, 0)]  # (A, w, m_max)
        nbrs3 = np.where((cand >= 0)[:, :, None], nbrs3, -1)
        # visited-marking goes candidate column by candidate column
        # (w is small; lanes stay batched): two candidates expanded in
        # the same iteration often share a neighbor, and without the
        # inter-column dedup both copies enter the merge — duplicate
        # beam slots measurably cost recall at w≥4
        fresh3 = np.empty_like(nbrs3, dtype=bool)
        for j in range(w):
            nb_j = nbrs3[:, j, :]
            valid_j = nb_j >= 0
            safe_j = np.where(valid_j, nb_j, 0)
            fresh3[:, j, :] = valid_j & ~visited[act[:, None], safe_j]
            visited[act[:, None], safe_j] |= valid_j
        nbrs = nbrs3.reshape(act.size, w * m_max)
        fresh = fresh3.reshape(act.size, w * m_max)
        valid = nbrs >= 0
        nb_safe = np.where(valid, nbrs, 0)
        diff = vmat[nb_safe] - Q[act][:, None, :]  # (A, w·m_max, D)
        nd = np.einsum("amd,amd->am", diff, diff)
        nd = np.where(fresh, nd, np.inf)
        # merge beam ∪ fresh neighbors → keep ef smallest per lane
        all_idx = np.concatenate(
            [beam_idx[act], np.where(fresh, nbrs, -1)], axis=1
        )
        all_d = np.concatenate([beam_d[act], nd], axis=1)
        all_exp = np.concatenate(
            [expanded[act], np.zeros_like(nd, dtype=bool)], axis=1
        )
        sel = np.argpartition(all_d, ef - 1, axis=1)[:, :ef]
        ar = np.arange(act.size)[:, None]
        beam_idx[act] = all_idx[ar, sel]
        beam_d[act] = all_d[ar, sel]
        expanded[act] = all_exp[ar, sel]
    order = np.argsort(beam_d, axis=1, kind="stable")
    return (
        np.take_along_axis(beam_idx, order, axis=1),
        np.take_along_axis(beam_d, order, axis=1),
    )


def _build_graph(
    x: np.ndarray,
    m: int,
    m_max: int,
    ef_construction: int,
    seed: int,
    batch_size: int = 128,
) -> tuple[np.ndarray, np.ndarray, int]:
    """Batched-incremental NSW construction over ``x`` (float64,
    (n, d)): geometric batch ramp 1, 2, 4, … ``batch_size``. Points in
    the same batch search the graph as it stood before the batch (they
    cannot see each other — standard batch-insert approximation), then
    link sequentially; the ramp keeps the formative early graph
    near-sequential. Recall vs the exact operator is re-gated in
    tests/test_ann.py."""
    n = len(x)
    neighbors = np.full((n, m_max), -1, dtype=np.int32)
    degrees = np.zeros(n, dtype=np.int32)
    rng = np.random.default_rng(seed)
    order = rng.permutation(n)  # insertion order decorrelates the data
    entry = int(order[0])
    # construction search runs in float32: halves the gather/einsum
    # volume that dominates build wall time, and measured recall is
    # unchanged-to-better (candidate SELECTION tolerates fp32; final
    # link pruning below stays float64)
    x32 = x.astype(np.float32)

    def select_diverse(base: int, cand: np.ndarray, limit: int) -> list[int]:
        """HNSW's neighbor-selection heuristic (Malkov Alg. 4): walk
        candidates by distance to ``base``; keep c only if c is closer
        to base than to every already-kept neighbor. Pure closest-m
        pruning makes every link short-range and navigability COLLAPSES
        as construction search improves (measured: recall fell with
        higher ef_construction); the diversity rule preserves the
        long-range edges greedy routing needs (+0.05 recall at the
        bench's knobs).

        Distance rows to kept members still materialize lazily (one
        (c, D) row op per KEPT member — an eager c×c matrix measured
        SLOWER, most calls keep few members and break early), but they
        fold into a running per-candidate minimum so the accept check
        is one scalar compare — the round-5 form's inner loop over
        kept rows cost ~kept×c numpy scalar indexings per call
        (profiled: ~70% of build wall). Same elementwise ops and the
        same contiguous-axis reduction ⇒ graphs verified bit-identical
        to the round-5 form across uniform/clustered/curve corpora at
        the change; recall stays gated by tests/test_ann.py."""
        sub = x[cand]
        db = ((sub - x[base]) ** 2).sum(axis=1)
        o = np.argsort(db, kind="stable")
        cand, db, sub = cand[o], db[o], sub[o]
        dbl = db.tolist()
        mind = np.full(len(cand), np.inf)  # min dist to any kept member
        kept: list[int] = []
        pruned: list[int] = []
        for i in range(len(cand)):
            if mind[i] >= dbl[i]:
                kept.append(i)
                if len(kept) >= limit:
                    break
                np.minimum(
                    mind, ((sub - sub[i]) ** 2).sum(axis=1), out=mind
                )
            else:
                pruned.append(i)
        # keepPrunedConnections (Malkov Alg. 4 extension): on small or
        # tightly clustered neighborhoods the diversity rule can keep
        # far fewer than ``limit`` links and the graph disconnects
        # (measured: 0.78 recall on 125-node partitions); backfill the
        # closest pruned candidates up to the limit
        if len(kept) < limit and pruned:
            kept.extend(pruned[: limit - len(kept)])
        return [int(cand[i]) for i in kept]

    def link(a: int, b: int) -> None:
        da = degrees[a]
        cur = neighbors[a, :da]
        if (cur == b).any():  # already linked (keeps slots useful)
            return
        if da < m_max:
            neighbors[a, da] = b
            degrees[a] += 1
            return
        # overflow: re-select a diverse m_max subset of current ∪ {b}
        kept = select_diverse(a, np.append(cur, b), m_max)
        neighbors[a, : len(kept)] = kept
        neighbors[a, len(kept):] = -1
        degrees[a] = len(kept)

    pos = 1
    bsz = 1
    while pos < n:
        batch = order[pos : pos + min(bsz, n - pos)]
        near_idx, _near_d = _greedy_search_batch(
            x32,
            neighbors,
            degrees,
            np.full(len(batch), entry, dtype=np.int64),
            x32[batch],
            ef_construction,
            expand_width=4,
        )
        for qi, node in enumerate(batch):
            node = int(node)
            cand = near_idx[qi]
            cand = cand[(cand >= 0) & (cand != node)]
            picks = select_diverse(node, cand, m) if cand.size else []
            if picks:
                # forward links in one shot: a fresh node has degree 0
                # and the selection is duplicate-free
                neighbors[node, : len(picks)] = picks
                degrees[node] = len(picks)
            for nb in picks:
                link(nb, node)
        pos += len(batch)
        bsz = min(bsz * 2, batch_size)
    return neighbors, degrees, entry


def nsw_build(
    df: DataFrame,
    n_parts: int = 32,
    m: int = 8,
    m_max: int = 16,
    ef_construction: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    seed: int = 42,
) -> DataFrame:
    """Build one NSW artifact row per partition (same layout contract
    as ``partitioned_build``; vectors stored normalized for cosine)."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        chunks = [pdf for pdf in batches if not pdf.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        x = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        if metric == "cosine":
            x = x / (np.linalg.norm(x, axis=1, keepdims=True) + 1e-10)
        neighbors, degrees, entry = _build_graph(
            x, m, m_max, ef_construction, seed + pid
        )
        # degree is recoverable from the -1 padding; store padded matrix
        yield pd.DataFrame(
            {
                "part_id": [pid],
                "n": [len(ids)],
                "dims": [x.shape[1]],
                "m_max": [m_max],
                "entry": [entry],
                "ids": [ids.tobytes()],
                "vmat": [x.astype(np.float32).tobytes()],
                "neighbors": [neighbors.tobytes()],
            }
        )

    return (
        df.select(id_col, vec_col)
        .repartition(n_parts, id_col)
        .mapInPandas(build, schema=NSW_SCHEMA)
    )


def _unpack_nsw(row):
    dims, m_max, n = int(row["dims"]), int(row["m_max"]), int(row["n"])
    ids = np.frombuffer(row["ids"], dtype=np.int64)
    vmat = np.frombuffer(row["vmat"], dtype=np.float32).reshape(n, dims).astype(
        np.float64
    )
    neighbors = np.frombuffer(row["neighbors"], dtype=np.int32).reshape(
        n, m_max
    )
    degrees = (neighbors >= 0).sum(axis=1).astype(np.int32)
    return ids, vmat, neighbors, degrees, int(row["entry"])


def nsw_search(
    index_df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    ef: int = 48,
    metric: str = "cosine",
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Single-query search: each partition's task beam-searches its own
    graph; TakeOrdered merges ``partitions × k``. Output (id, dist) —
    cosine distances are recovered exactly from the normalized-L2
    beam ordering (d_cos = d_l2²/2 on unit vectors)."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = q / (np.linalg.norm(q) + 1e-10) if metric == "cosine" else q

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids, vmat, neighbors, degrees, entry = _unpack_nsw(row)
                bi, bd = _greedy_search_batch(
                    vmat,
                    neighbors,
                    degrees,
                    np.asarray([entry], dtype=np.int64),
                    qn[None, :],
                    ef,
                )
                got = bi[0] >= 0
                kk = min(k, int(got.sum()))
                d = bd[0, :kk]
                if metric == "cosine":
                    d = d / 2.0  # ||a-b||²/2 == 1 - a·b on unit vectors
                elif metric == "l2":
                    d = np.sqrt(np.maximum(d, 0.0))
                yield pd.DataFrame({id_col: ids[bi[0, :kk]], "dist": d})

    out = index_df.mapInPandas(scan, schema=f"{id_col} long, dist double")
    if round_digits is not None:
        out = out.withColumn("dist", F.round("dist", round_digits))
    return out.orderBy("dist", id_col).limit(k)


# ---------------------------------------------------------------------------
# Packed local serving twin
# ---------------------------------------------------------------------------


@dataclass
class NSWPacked:
    """Driver-resident concatenation of every partition graph: one node
    array, neighbor ids offset-shifted, per-partition offsets + entry
    points — the partitions are disconnected components of a single
    graph searched per component."""

    ids: np.ndarray        # (N,) int64 — original vector ids
    vmat: np.ndarray       # (N, D) float64 (normalized for cosine)
    neighbors: np.ndarray  # (N, m_max) int64, offset-shifted, -1 pad
    offsets: np.ndarray    # (P+1,) int64 — part p spans [off[p], off[p+1])
    entries: np.ndarray    # (P,) int64 — entry node per partition (global)
    metric: str


def _ensure_f32(packed: NSWPacked) -> tuple[np.ndarray, np.ndarray]:
    """Cache the float32 copy + squared norms on the pack (first use):
    the GEMM fallback otherwise re-copies the ~50 MB float64 matrix on
    every search call. Values are identical to a per-call astype —
    elementwise f64→f32 commutes with row gathers."""
    vm32 = getattr(packed, "_vm32", None)
    if vm32 is None:
        vm32 = np.ascontiguousarray(packed.vmat, dtype=np.float32)
        packed._sq32 = np.einsum("ij,ij->i", vm32, vm32)
        # transposed CONTIGUOUS copy: every GEMM block multiplies by
        # the same (D, N) right operand — caching it contiguous means
        # BLAS packs it once here instead of once per query block
        packed._vm32T = np.ascontiguousarray(vm32.T)
        # publish the guard attribute LAST: concurrent readers treat a
        # non-None _vm32 as "all three caches are set", so _sq32/_vm32T
        # must be visible before _vm32 is
        packed._vm32 = vm32
    return packed._vm32, packed._sq32


def nsw_pack(index_df: DataFrame, metric: str = "cosine") -> NSWPacked:
    """Collect the artifact rows once and concatenate (the 100K×64
    index is ~30 MB — the reference's always-in-RAM regime)."""
    rows = index_df.collect()
    ids_l, vmat_l, nbr_l, entries, offsets = [], [], [], [], [0]
    offset = 0
    for row in rows:
        ids, vmat, neighbors, _deg, entry = _unpack_nsw(row)
        nbr = neighbors.astype(np.int64)
        nbr = np.where(nbr >= 0, nbr + offset, -1)
        ids_l.append(ids)
        vmat_l.append(vmat)
        nbr_l.append(nbr)
        entries.append(entry + offset)
        offset += len(ids)
        offsets.append(offset)
    if not ids_l:
        return NSWPacked(
            ids=np.zeros(0, np.int64),
            vmat=np.zeros((0, 1)),
            neighbors=np.zeros((0, 1), np.int64),
            offsets=np.zeros(1, np.int64),
            entries=np.zeros(0, np.int64),
            metric=metric,
        )
    return NSWPacked(
        ids=np.concatenate(ids_l),
        vmat=np.vstack(vmat_l),
        neighbors=np.vstack(nbr_l),
        offsets=np.asarray(offsets, dtype=np.int64),
        entries=np.asarray(entries, dtype=np.int64),
        metric=metric,
    )


# below this many nodes a component is scored by one exact GEMM instead
# of graph traversal: at small n the graph saves almost no distance
# evaluations while paying gather/iteration overhead — the same regime
# note as the module docstring (graphs pay at 10⁵-10⁶-row partitions).
# The cutover mirrors knn_batch_auto / Lucene's exhaustive-vs-HNSW rule.
GRAPH_MIN_NODES = 50_000


def nsw_search_local(
    packed: NSWPacked,
    queries: "pd.DataFrame | np.ndarray",
    k: int = 10,
    ef: int = 48,
    id_col: str = "vec_id",
    round_digits: int | None = 6,
    graph_min_nodes: int = GRAPH_MIN_NODES,
    expand_width: int = 8,
) -> pd.DataFrame:
    """Batched local search over the packed components with adaptive
    per-component strategy: components under ``graph_min_nodes`` score
    as one exact GEMM block (recall 1.0 there — a graph walk over a
    cache-resident matrix cannot beat BLAS); larger components run the
    lockstep beam kernel, ``expand_width`` frontier expansions per lane
    per iteration. Candidates merge per query into a global top-k.
    Returns ``(query_id, rank, <id_col>, dist)`` — the same
    serving-twin contract as ``ivf_search_local``."""
    if isinstance(queries, pd.DataFrame):
        qids = queries["query_id"].to_numpy()
        Q = np.stack(
            [np.asarray(v, dtype=np.float64) for v in queries["query_vec"]]
        )
    else:
        Q = np.asarray(queries, dtype=np.float64)
        qids = np.arange(Q.shape[0])
    nq = Q.shape[0]
    P = packed.entries.shape[0]
    if nq == 0 or P == 0 or packed.vmat.shape[0] == 0:
        return pd.DataFrame(columns=["query_id", "rank", id_col, "dist"])
    if packed.metric == "cosine":
        Q = Q / (np.linalg.norm(Q, axis=1, keepdims=True) + 1e-10)

    cand_idx: list[np.ndarray] = []  # each (nq, c) global node indices
    cand_d: list[np.ndarray] = []
    # -- exact GEMM over the union of all small components ------------
    small = [
        p for p in range(P)
        if packed.offsets[p + 1] - packed.offsets[p] < graph_min_nodes
    ]
    if small:
        spans = [
            np.arange(packed.offsets[p], packed.offsets[p + 1]) for p in small
        ]
        gidx = np.concatenate(spans)
        # float32 GEMM selects an over-provisioned candidate set per
        # query block (bounded temporaries; BLAS does the work), then
        # the kept candidates recompute diff-based in float64 —
        # identical arithmetic to the graph kernel, so the merge is
        # precision-consistent. Same over-select-then-exact policy as
        # exact_search_packed. Query blocks fan across a thread pool
        # (GEMM / argpartition / gathers all release the GIL): the
        # driver's OpenBLAS runs one thread (session.get_spark), so
        # block threading — the _gemm_topk_chunked pattern — is what
        # gives the multi-core speedup driver-side. Per-row math is
        # block-size-independent, so results are bit-identical to the
        # old single-threaded 256-row chunks.
        vm32, sqall32 = _ensure_f32(packed)
        whole = gidx.size == vm32.shape[0]
        sub32T = (
            packed._vm32T
            if whole
            else np.ascontiguousarray(vm32[gidx].T)
        )
        sq32 = sqall32 if whole else sqall32[gidx]
        q32 = Q.astype(np.float32)
        kk = min(k, sub32T.shape[1])
        cand = min(max(4 * k, 64), sub32T.shape[1])
        rows_i = np.empty((nq, kk), dtype=np.int64)
        rows_d = np.empty((nq, kk))

        ntot = sub32T.shape[1]
        chv = 16384  # vector-axis chunk: keeps each selection row
        # L2-resident — argpartition over full 100k rows measured 3×
        # slower than per-chunk select + merge (same candidate set)

        def _gemm_block(lo: int, hi: int) -> None:
            qc = q32[lo:hi]
            # in-place accumulation: IEEE + is commutative, so
            # (-2g + sq) + qq is bit-identical to (sq - 2g) + qq
            qq = np.einsum("ij,ij->i", qc, qc)[:, None]
            rows = np.arange(hi - lo)[:, None]
            bd = bi = None
            for s0 in range(0, ntot, chv):
                e0 = min(s0 + chv, ntot)
                d32 = qc @ sub32T[:, s0:e0]
                d32 *= np.float32(-2.0)
                d32 += sq32[None, s0:e0]
                d32 += qq
                kc = min(cand, e0 - s0)
                p = (
                    np.argpartition(d32, kc - 1, axis=1)[:, :kc]
                    if kc < e0 - s0
                    else np.broadcast_to(
                        np.arange(e0 - s0), d32.shape
                    ).copy()
                )
                cd = d32[rows, p]
                ci = p + s0
                if bd is None:
                    bd, bi = cd, ci
                else:
                    md = np.concatenate([bd, cd], axis=1)
                    mi = np.concatenate([bi, ci], axis=1)
                    # cand can exceed the columns accumulated so far
                    # (k > chv/2 with ntot > 2*chv) — cap instead of
                    # letting argpartition raise on kth >= ncols
                    kc2 = min(cand, md.shape[1])
                    if kc2 < md.shape[1]:
                        sel = np.argpartition(md, kc2 - 1, axis=1)[:, :kc2]
                        bd, bi = md[rows, sel], mi[rows, sel]
                    else:
                        bd, bi = md, mi
            gp = gidx[bi]
            diff = packed.vmat[gp] - Q[lo:hi][:, None, :]
            dex = np.einsum("aqd,aqd->aq", diff, diff)
            s = np.argpartition(dex, kk - 1, axis=1)[:, :kk]
            rows_i[lo:hi] = gp[rows, s]
            rows_d[lo:hi] = dex[rows, s]

        import os as _os

        blk = 64
        nt = max(1, min(16, (_os.cpu_count() or 2) // 2, nq // blk))
        if nt <= 1:
            _gemm_block(0, nq)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=nt) as pool:
                list(
                    pool.map(
                        lambda lo: _gemm_block(lo, min(lo + blk, nq)),
                        range(0, nq, blk),
                    )
                )
        cand_idx.append(rows_i)
        cand_d.append(rows_d)
    # -- lockstep graph search per large component --------------------
    for p in range(P):
        npart = packed.offsets[p + 1] - packed.offsets[p]
        if npart < graph_min_nodes:
            continue
        lo = packed.offsets[p]
        sub_nbr = packed.neighbors[lo : lo + npart]
        sub_nbr = np.where(sub_nbr >= 0, sub_nbr - lo, -1)
        bi, bd = _greedy_search_batch(
            packed.vmat[lo : lo + npart],
            sub_nbr,
            None,
            np.full(nq, packed.entries[p] - lo, dtype=np.int64),
            Q,
            ef,
            expand_width=expand_width,
        )
        kk = min(k, bi.shape[1])
        cand_idx.append(np.where(bi[:, :kk] >= 0, bi[:, :kk] + lo, -1))
        cand_d.append(bd[:, :kk])
    ci = np.concatenate(cand_idx, axis=1)
    cd = np.concatenate(cand_d, axis=1)
    cd = np.where(ci >= 0, cd, np.inf)
    ksel = min(k, cd.shape[1])
    sel = np.argpartition(cd, ksel - 1, axis=1)[:, :ksel]
    ar = np.arange(nq)[:, None]
    sd = cd[ar, sel]
    si = ci[ar, sel]
    # tie-stable final order: (dist, id) per query
    sids = np.where(si >= 0, packed.ids[np.where(si >= 0, si, 0)], -1)
    order = np.lexsort((sids, sd), axis=1)
    sd = np.take_along_axis(sd, order, axis=1)
    sids = np.take_along_axis(sids, order, axis=1)
    if packed.metric == "cosine":
        sd = sd / 2.0
    elif packed.metric == "l2":
        sd = np.sqrt(np.maximum(sd, 0.0))
    if round_digits is not None:
        sd = np.round(sd, round_digits)
    keep = np.isfinite(sd)
    out = pd.DataFrame(
        {
            "query_id": np.repeat(qids, ksel)[keep.ravel()],
            "rank": np.tile(np.arange(ksel), nq)[keep.ravel()],
            id_col: sids.ravel()[keep.ravel()],
            "dist": sd.ravel()[keep.ravel()],
        }
    )
    return out
