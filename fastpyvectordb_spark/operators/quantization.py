"""Quantized / compressed search (reference ``quantization.py``).

Spark-first shapes:

- **Training is an aggregation.** SQ min/max (``quantization.py:85-106``)
  = per-dim ``min/max`` over posexploded vectors; BQ median thresholds
  (``:307-327``) = per-dim ``percentile(0.5)``; PQ codebooks
  (``:444-508``) = KMeans per subspace on a bounded driver sample
  (:func:`ann.kmeans.train`). All produce *small* codebook tables that
  broadcast to every executor.

- **Encoding is an expression.** SQ encode
  ``trunc(clip((v-min)/scale*255, 0, 255))`` (``:108-126``) and BQ
  ``v > threshold`` (``:329-354``) are pure ``zip_with`` expressions —
  JVM-side, codegen'd, no Python. PQ encode (nearest centroid per
  subspace, ``:510-539``) is a broadcast-join + window argmin.

- **Compressed search is the same TakeOrdered plan** over a cheaper
  distance: SQ-L2 on codes (linear decode identity:
  ``dist = sqrt(Σ((a-b)·scale/255)²)``), BQ Hamming via packed-int64
  XOR+bit_count (``:356-394``), PQ ADC via broadcast LUT join
  (``:541-597``).

At 100 TB the derived code columns are ~4-32× smaller than the f32
vectors, so compressed scans read proportionally less parquet — same
win as the reference's in-memory story, but on the storage layer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Scalar quantization (SQ)
# ---------------------------------------------------------------------------

def sq_train(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dim (dim, vmin, vmax, scale); scale 0 → 1.0 (ref :103-105)."""
    return (
        df.select(F.posexplode(vec_col).alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.min(F.col("v").cast("double")).alias("vmin"),
            F.max(F.col("v").cast("double")).alias("vmax"),
        )
        .withColumn(
            "scale",
            F.when(F.col("vmax") - F.col("vmin") == 0, F.lit(1.0)).otherwise(
                F.col("vmax") - F.col("vmin")
            ),
        )
        .orderBy("dim")
    )


def _lit_double_array(vals: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)).cast("double") for v in vals])


def sq_encode_expr(
    vec: Column, vmins: Sequence[float], scales: Sequence[float]
) -> Column:
    """uint8 codes as ARRAY<INT>: trunc(clip((v-min)/scale*255, 0, 255)).

    numpy's ``astype(uint8)`` truncates toward zero; values are already
    clipped to [0, 255] so ``floor`` is identical.
    """
    pairs = F.zip_with(
        vec, _lit_double_array(vmins), lambda v, m: v.cast("double") - m
    )
    return F.zip_with(
        pairs,
        _lit_double_array(scales),
        lambda d, s: F.floor(
            F.least(F.greatest(d / s * 255.0, F.lit(0.0)), F.lit(255.0))
        ).cast("int"),
    )


def sq_l2_distance_expr(
    codes_a: Column, codes_b: Column, scales: Sequence[float]
) -> Column:
    """L2 over decoded values == Σ((a-b)·scale/255)² then sqrt (linear
    decode makes the min terms cancel; ref _sq_distances_l2)."""
    diffs = F.zip_with(
        codes_a, codes_b, lambda a, b: (a - b).cast("double")
    )
    scaled_sq = F.zip_with(
        diffs,
        _lit_double_array(scales),
        lambda d, s: (d * s / 255.0) * (d * s / 255.0),
    )
    return F.sqrt(
        F.aggregate(scaled_sq, F.lit(0.0), lambda acc, x: acc + x)
    )


def sq_decode_expr(
    codes: Column, vmins: Sequence[float], scales: Sequence[float]
) -> Column:
    """Reconstruct ARRAY<DOUBLE>: code*scale/255 + min (ref
    ``quantization.py:127-139`` linear decode)."""
    scaled = F.zip_with(
        codes,
        _lit_double_array(scales),
        lambda c, s: c.cast("double") * s / F.lit(255.0),
    )
    return F.zip_with(scaled, _lit_double_array(vmins), lambda x, m: x + m)


def _dot_seq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def sq_cosine_distance_expr(
    codes_a: Column,
    codes_b: Column,
    vmins: Sequence[float],
    scales: Sequence[float],
) -> Column:
    """Cosine distance over reconstructed vectors (ref Q3 "cos via
    decode+normalize", ``quantization.py:217-251``): 1 - dot/((|a|+eps)
    (|b|+eps)) with the reference's 1e-10 norm epsilon."""
    da = sq_decode_expr(codes_a, vmins, scales)
    db = sq_decode_expr(codes_b, vmins, scales)
    eps = F.lit(1e-10)
    return F.lit(1.0) - _dot_seq(da, db) / (
        (F.sqrt(_dot_seq(da, da)) + eps) * (F.sqrt(_dot_seq(db, db)) + eps)
    )


def sq_ip_distance_expr(
    codes_a: Column,
    codes_b: Column,
    vmins: Sequence[float],
    scales: Sequence[float],
) -> Column:
    """Inner-product distance (−dot) over reconstructed vectors (ref Q3
    "dot via reconstruct")."""
    da = sq_decode_expr(codes_a, vmins, scales)
    db = sq_decode_expr(codes_b, vmins, scales)
    return -_dot_seq(da, db)


# ---------------------------------------------------------------------------
# Binary quantization (BQ)
# ---------------------------------------------------------------------------

def bq_train(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dim median thresholds (ref :307-327). Exact percentile with
    linear interpolation — matches numpy.median."""
    return (
        df.select(F.posexplode(vec_col).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.percentile(F.col("v").cast("double"), F.lit(0.5)).alias("threshold"))
        .orderBy("dim")
    )


def bq_bits_expr(vec: Column, thresholds: Sequence[float]) -> Column:
    """Unpacked bits ARRAY<INT>: 1 if v > threshold else 0."""
    return F.zip_with(
        vec,
        _lit_double_array(thresholds),
        lambda v, t: (v.cast("double") > t).cast("int"),
    )


def bq_pack_expr(bits: Column, dims: int) -> Column:
    """Pack bit array into ARRAY<BIGINT> words of 64 (for bit_count
    hamming — the scale path; 64 dims → 1 word per vector)."""
    n_words = (dims + 63) // 64
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda w: F.aggregate(
            F.slice(bits, w * 64 + 1, 64),
            F.lit(0).cast("long"),
            # shiftleft|or, not acc*2+b: the 64th bit would overflow a
            # signed long under ANSI arithmetic
            lambda acc, b: F.shiftleft(acc, 1).bitwiseOR(b.cast("long")),
        ),
    )


def hamming_packed_expr(words_a: Column, words_b: Column) -> Column:
    """XOR + popcount over packed words (ref :356-379) — pure codegen."""
    return F.aggregate(
        F.zip_with(words_a, words_b, lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0),
        lambda acc, x: acc + x.cast("int"),
    )


def hamming_bits_expr(bits_a: Column, bits_b: Column) -> Column:
    """Hamming over unpacked bit arrays (oracle-friendly twin)."""
    return F.aggregate(
        F.zip_with(bits_a, bits_b, lambda a, b: (a != b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ)
# ---------------------------------------------------------------------------

def pq_subvectors(
    df: DataFrame,
    m_subspaces: int,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, m, subvec) — one row per subspace slice."""
    sub_dim = dims // m_subspaces
    return df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m_subspaces - 1)),
                lambda m: F.struct(
                    m.alias("m"),
                    F.slice(F.col(vec_col), m * sub_dim + 1, sub_dim).alias("subvec"),
                ),
            )
        ).alias("s"),
    ).select(id_col, F.col("s.m").alias("m"), F.col("s.subvec").alias("subvec"))


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m_subspaces: int,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid code per subspace → (id, m, code).

    ``codebooks``: (m, cidx, cvec). Broadcast — it's M×K rows.
    Ties break to the smallest centroid index (numpy argmin picks the
    first minimum).
    """
    subs = pq_subvectors(df, m_subspaces, dims, id_col, vec_col)
    scored = subs.join(F.broadcast(codebooks), "m").select(
        id_col,
        "m",
        F.col("cidx"),
        _l2sq(F.col("subvec"), F.col("cvec")).alias("d"),
    )
    w = Window.partitionBy(id_col, "m").orderBy("d", "cidx")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "m", F.col("cidx").alias("code"))
    )


def pq_adc_search(
    codes: DataFrame,
    codebooks: DataFrame,
    query_vec: Sequence[float],
    m_subspaces: int,
    k: int = 10,
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """ADC: LUT[m][c] = ||q_m - centroid||²; dist = sqrt(Σ_m LUT[m][code_m]).

    LUT is built as a (M×K)-row DataFrame from the broadcast codebooks
    and joined to the codes — O(M) work per vector (ref :541-597).
    """
    dims = len(query_vec)
    sub_dim = dims // m_subspaces
    qsubs = [
        [float(v) for v in query_vec[m * sub_dim : (m + 1) * sub_dim]]
        for m in range(m_subspaces)
    ]
    lut = codebooks.select(
        "m",
        "cidx",
        _l2sq(
            F.col("cvec"),
            F.element_at(
                F.array(*[_lit_double_array(q) for q in qsubs]), F.col("m") + 1
            ),
        ).alias("lut_d"),
    )
    dist = F.sqrt(F.sum("lut_d"))
    if round_digits is not None:
        dist = F.round(dist, round_digits)
    return (
        codes.join(F.broadcast(lut), (codes.m == lut.m) & (codes.code == lut.cidx))
        .groupBy(id_col)
        .agg(dist.alias("dist"))
        .orderBy("dist", id_col)
        .limit(k)
    )


def pq_train_kmeans(
    df: DataFrame,
    m_subspaces: int,
    n_centroids: int,
    dims: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Real PQ training: KMeans per subspace (ref _kmeans :484-508) —
    one batched :func:`ann.kmeans.train` over the M slices of a bounded
    driver sample. Returns codebooks (m, cidx, cvec)."""
    from fastpyvectordb_spark.ann.kmeans import fit_sample, train

    x = fit_sample(df, vec_col, n_centroids, seed)[:, :dims]
    cbs = train(
        x.reshape(len(x), m_subspaces, -1).transpose(1, 0, 2),
        n_centroids, max_iter, seed,
    )
    rows = [
        (m, cidx, [float(v) for v in c])
        for m in range(m_subspaces)
        for cidx, c in enumerate(cbs[m])
    ]
    return df.sparkSession.createDataFrame(
        rows, "m int, cidx int, cvec array<double>"
    )


# ---------------------------------------------------------------------------
# Packed driver-local BQ hamming scan (the reference's in-memory
# binary-quantized regime, quantization.py:356-394: XOR + popcount over
# packed codes). Codes are ENCODED BY A SPARK JOB (bq_bits_expr →
# bq_pack_expr) and only collected when the code matrix fits the driver
# (100K×64 bits = 0.8 MB); the distributed hamming_packed_expr plan is
# the scale path.
# ---------------------------------------------------------------------------

def bq_pack_matrix(
    df: DataFrame,
    thresholds: Sequence[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Encode+pack via the JVM expression pipeline, collect once via
    Arrow → (ids (N,) int64, codes (N, n_words) uint64)."""
    import numpy as np

    dims = len(thresholds)
    codes_df = df.select(
        id_col,
        bq_pack_expr(
            bq_bits_expr(F.col(vec_col), thresholds), dims
        ).alias("words"),
    )
    tbl = codes_df.toArrow()
    ids = tbl[id_col].to_numpy()
    n_words = (dims + 63) // 64
    if len(ids) == 0:  # reshape(0, -1) raises; return empty matrices
        return ids, np.empty((0, n_words), dtype=np.uint64)
    flat = tbl["words"].combine_chunks()
    words = np.asarray(flat.flatten(), dtype=np.int64).reshape(
        len(ids), n_words
    )
    return ids, np.ascontiguousarray(words).view(np.uint64)


def _popcount_u64(x, tmp=None):
    """Vectorized SWAR popcount over a uint64 array, IN PLACE: ``x`` is
    destroyed and returned holding the bit counts. ``tmp`` is a reusable
    scratch buffer of the same shape — with it, the whole count runs
    with zero fresh allocations (fresh large buffers page-fault
    expensively on lazy-memory VMs; numpy < 2 has no bitwise_count).
    Standard parallel bit count; the multiply wraps mod 2^64 by design."""
    import numpy as np

    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h01 = np.uint64(0x0101010101010101)
    one, two, four, s56 = (np.uint64(c) for c in (1, 2, 4, 56))
    if tmp is None:
        tmp = np.empty_like(x)
    np.right_shift(x, one, out=tmp)
    tmp &= m1
    x -= tmp
    np.right_shift(x, two, out=tmp)
    tmp &= m2
    x &= m2
    x += tmp
    np.right_shift(x, four, out=tmp)
    x += tmp
    x &= m4
    x *= h01
    x >>= s56
    return x


def bq_hamming_search_local(
    ids,
    codes,
    qcodes,
    k: int = 10,
    chunk: int = 32,
    n_threads: int = 8,  # XOR+popcount saturates memory bandwidth ~8 threads
):
    """Batched hamming top-k over packed uint64 codes: per query-chunk
    XOR + SWAR popcount (pure vectorized arithmetic, zero allocations
    in the loop — fresh large buffers page-fault expensively on
    lazy-memory VMs), argpartition top-k, ties by id. Query ranges are
    fanned across a thread pool (ufuncs release the GIL; this is the
    reference's chunked-thread search, parallel_search.py:313-368,
    applied to the hamming kernel). Returns (dist (Q,k) int32,
    idx (Q,k) int64)."""
    import numpy as np

    nq = qcodes.shape[0]
    n, n_words = codes.shape
    kk = min(k, n)
    out_d = np.empty((nq, kk), dtype=np.int32)
    out_i = np.empty((nq, kk), dtype=np.int64)
    # composite selection key so ties AT the k boundary resolve by id
    # exactly like ORDER BY h, id (argpartition on h alone is free to
    # keep either of two equal-h rows). h*(span)+id only fits int64
    # for non-negative, modest-magnitude ids — snowflake-scale ids
    # (~1e18 × h up to 64·words) wrap silently and corrupt the WHOLE
    # selection, so those fall back to a per-row lexsort.
    id_span = np.int64(ids.max()) + 1 if len(ids) else np.int64(1)
    max_h = 64 * n_words
    key_safe = (
        len(ids) == 0
        or (int(ids.min()) >= 0 and max_h + 1 <= (2**63 - 1) // int(id_span))
    )
    codes_t = codes[None, :, :]

    def run_range(lo: int, hi: int) -> None:
        # per-thread buffers, allocated once, reused across chunks
        x = np.empty((chunk, n, n_words), dtype=np.uint64)
        tmp = np.empty_like(x)
        hsum = np.empty((chunk, n), dtype=np.uint64)
        key = np.empty((chunk, n), dtype=np.int64)
        for s in range(lo, hi, chunk):
            e = min(s + chunk, hi)
            q = e - s
            xv, tv, hv, kv = x[:q], tmp[:q], hsum[:q], key[:q]
            np.bitwise_xor(qcodes[s:e, None, :], codes_t, out=xv)
            _popcount_u64(xv, tv)
            if n_words == 1:
                hv[:] = xv[:, :, 0]
            else:
                xv.sum(axis=2, out=hv)
            if key_safe:
                np.multiply(hv.view(np.int64), id_span, out=kv)
                kv += ids[None, :]
                # composite keys are UNIQUE (h·span + id), so the
                # sampled tie-aware cut selects the identical set the
                # bare argpartition did — just ~4× faster over 100k
                from fastpyvectordb_spark.operators.knn import (
                    topk_rows_tied,
                )

                p = topk_rows_tied(kv, ids, kk)
                order = np.argsort(np.take_along_axis(kv, p, axis=1), axis=1)
                sel = np.take_along_axis(p, order, axis=1)
                rr = np.arange(q)[:, None]
                out_d[s:e] = hv[rr, sel].astype(np.int32)
                out_i[s:e] = ids[sel]
            else:
                hv64 = hv.view(np.int64)
                for j in range(q):
                    sel = np.lexsort((ids, hv64[j]))[:kk]
                    out_d[s + j] = hv64[j][sel].astype(np.int32)
                    out_i[s + j] = ids[sel]

    n_threads = max(1, min(n_threads, (nq + chunk - 1) // chunk))
    if n_threads == 1:
        run_range(0, nq)
    else:
        from concurrent.futures import ThreadPoolExecutor

        span = -(-nq // n_threads)
        span = -(-span // chunk) * chunk  # align ranges to chunk size
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            futs = [
                pool.submit(run_range, lo, min(lo + span, nq))
                for lo in range(0, nq, span)
            ]
            for f in futs:
                f.result()
    return out_d, out_i


# ---------------------------------------------------------------------------
# Packed driver-local SQ scan (the reference's in-memory scalar-
# quantized regime, quantization.py:145-181: uint8 codes, 4x memory
# win, distances on codes). Codes are ENCODED BY A SPARK JOB
# (sq_encode_expr) and collected once via Arrow; the distributed
# sq_*_distance_expr plans are the scale path.
# ---------------------------------------------------------------------------

def sq_pack_matrix(
    df: DataFrame,
    vmins: Sequence[float],
    scales: Sequence[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Encode via the JVM expression pipeline, collect once via Arrow →
    (ids (N,) int64, codes (N, D) uint8)."""
    import numpy as np

    codes_df = df.select(
        id_col,
        sq_encode_expr(F.col(vec_col), vmins, scales).alias("codes"),
    )
    tbl = codes_df.toArrow()
    ids = tbl[id_col].to_numpy()
    if len(ids) == 0:  # reshape(0, -1) raises; return empty matrices
        return ids, np.empty((0, len(vmins)), dtype=np.uint8)
    flat = tbl["codes"].combine_chunks()
    codes = np.asarray(flat.flatten(), dtype=np.int64).reshape(len(ids), -1)
    return ids, np.ascontiguousarray(codes.astype(np.uint8))


def sq_encode_queries(queries, vmins, scales):
    """Encode raw float queries with the same per-dim (min, scale):
    floor(clip((v-min)/scale*255, 0, 255)) — numpy twin of
    sq_encode_expr. Returns (Q, D) uint8."""
    import numpy as np

    q = np.asarray(queries, dtype=np.float64)
    mins = np.asarray(vmins, dtype=np.float64)
    sc = np.asarray(scales, dtype=np.float64)
    codes = np.floor(np.clip((q - mins) / sc * 255.0, 0.0, 255.0))
    return codes.astype(np.uint8)


def sq_search_local(
    ids,
    codes,
    vmins,
    scales,
    qcodes,
    k: int = 10,
    metric: str = "l2",
    chunk: int = 128,
):
    """Batched SQ scan over uint8 codes — the reference's in-memory
    scalar-quantized search (``quantization.py:145-181, 217-251``):
    l2 on codes via the scaled-diff identity, cosine/ip on decoded
    values. One transient scaled float32 matrix + GEMM per call
    (storage stays uint8 — the 4x memory win is at rest); per-query
    candidates are over-selected in float32, recomputed in float64,
    ties broken by id — same ORDER BY dist, id contract as the
    distributed sq_*_distance_expr plans. Returns (dist (Q, k)
    float64, idx (Q, k) int64)."""
    import numpy as np

    n, dims = codes.shape
    nq = qcodes.shape[0]
    kk = min(k, n)
    s255_64 = np.asarray(scales, dtype=np.float64) / 255.0
    mins64 = np.asarray(vmins, dtype=np.float64)

    # decoded-minus-min matrix; + mins == full decode (linear codec).
    # Selection GEMM runs in float64: the l2 proxy key (||b||² − 2q·b)
    # subtracts two ~||b||²-sized terms, and in float32 that
    # cancellation (~1e6 − 1e6) leaves absolute error big enough to
    # push true neighbors out of the candidate cut entirely — a wrong
    # TOP-K, not a rounding nit. f64 keys cost ~2× GEMM time; the
    # uint8 4× memory win is at rest, untouched.
    smat = codes.astype(np.float64) * s255_64
    q64 = qcodes.astype(np.float64) * s255_64
    if metric == "l2":
        base = smat
    else:
        base = smat + mins64
        q64 = q64 + mins64
    qmat = q64
    sqn = np.einsum("ij,ij->i", base, base)  # float64 norms²
    eps = 1e-10

    def decode64(cidx):
        dec = codes[cidx].astype(np.float64) * s255_64
        if metric != "l2":
            dec += mins64
        return dec

    out_d = np.empty((nq, kk), dtype=np.float64)
    out_i = np.empty((nq, kk), dtype=np.int64)
    cand = min(max(4 * kk, 64), n)

    if metric == "cosine":
        inv_norms = 1.0 / (np.sqrt(sqn) + eps)

    def run_queries(qlo: int, qhi: int) -> None:
        for s in range(qlo, qhi, chunk):
            e = min(s + chunk, qhi)
            key = qmat[s:e] @ base.T  # (q, N) one GEMM, q-major
            # selection key only needs per-query ORDER — terms constant
            # within a row (q·q, ||q||) are dropped, the rest is in-place
            if metric == "l2":
                key *= -2.0
                key += sqn[None, :]
            elif metric == "cosine":
                key *= inv_norms[None, :]
                np.negative(key, out=key)
            else:  # ip
                np.negative(key, out=key)
            # (dist, id)-exact sampled cut (round 9): same
            # candidate-superset contract as the bare argpartition,
            # ~4× faster over 100k, boundary key-ties keep smaller ids
            from fastpyvectordb_spark.operators.knn import topk_rows_tied

            p = topk_rows_tied(key, ids, cand)  # (q, cand)
            for j in range(e - s):
                cidx = p[j]
                dec = decode64(cidx)
                if metric == "l2":
                    diff = dec - q64[s + j]
                    d = np.sqrt(np.einsum("ij,ij->i", diff, diff))
                elif metric == "cosine":
                    qn64 = np.sqrt(q64[s + j] @ q64[s + j])
                    norms64 = np.sqrt(np.einsum("ij,ij->i", dec, dec))
                    d = 1.0 - (dec @ q64[s + j]) / (
                        (norms64 + eps) * (qn64 + eps)
                    )
                else:
                    d = -(dec @ q64[s + j])
                order = np.lexsort((ids[cidx], d))[:kk]
                out_d[s + j] = d[order]
                out_i[s + j] = ids[cidx[order]]

    from fastpyvectordb_spark.operators.knn import query_blocks

    n_threads = query_blocks(nq, chunk)
    if n_threads <= 1:
        run_queries(0, nq)
    else:
        from concurrent.futures import ThreadPoolExecutor

        span = -(-nq // n_threads)
        span = -(-span // chunk) * chunk
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            futs = [
                pool.submit(run_queries, lo, min(lo + span, nq))
                for lo in range(0, nq, span)
            ]
            for f in futs:
                f.result()
    return out_d, out_i


# ---------------------------------------------------------------------------
# Packed driver-local PQ ADC scan (the reference's in-memory PQ search,
# quantization.py:541-597: per-query LUT + code gather). Codes are
# ENCODED BY A SPARK JOB (pq_encode) and collected once; the
# distributed pq_adc_search broadcast-LUT join is the scale path.
# ---------------------------------------------------------------------------

def pq_pack(
    codes: DataFrame,
    codebooks: DataFrame,
    m_subspaces: int,
    id_col: str = "vec_id",
):
    """Collect long-form (id, m, code) + (m, cidx, cvec) → (ids (N,)
    int64, codes (N, M) uint8, cents (M, K, sub_dim) float64)."""
    import numpy as np

    pdf = codes.orderBy(id_col, "m").toPandas()
    ids = pdf[id_col].to_numpy()[::m_subspaces].astype(np.int64)
    cmat = (
        pdf["code"].to_numpy().astype(np.uint8).reshape(len(ids), m_subspaces)
    )
    cb = codebooks.orderBy("m", "cidx").toPandas()
    n_cent = cb["cidx"].max() + 1
    cents = np.stack(
        [np.asarray(v, dtype=np.float64) for v in cb["cvec"]]
    ).reshape(m_subspaces, n_cent, -1)
    return ids, cmat, cents


def pq_adc_search_local(
    ids,
    codes,
    cents,
    queries,
    k: int = 10,
    chunk: int = 64,
    round_digits: int | None = 6,
):
    """Batched ADC: per-query LUT (M, K) of squared L2 to every
    centroid, then dist = sqrt(Σ_m LUT[m, code_m]) via M fancy-gathers
    (ref ``build_lookup_table/distances_with_table``). Ties by id,
    optional ROUND 6 to match the distributed pq_adc_search contract.
    Returns (dist (Q, k) float64, idx (Q, k) int64)."""
    import numpy as np

    q = np.asarray(queries, dtype=np.float64)
    nq, dims = q.shape
    n, m_subspaces = codes.shape
    sub = dims // m_subspaces
    kk = min(k, n)
    codes_i = codes.astype(np.intp)
    out_d = np.empty((nq, kk), dtype=np.float64)
    out_i = np.empty((nq, kk), dtype=np.int64)
    # the (q, N) gather-accumulate dominates — float32 halves its
    # memory traffic; candidates are recomputed in float64 from the
    # exact LUT before the final cut, so accuracy is unaffected
    cand = min(max(4 * kk, 64), n)

    def run_queries(qlo: int, qhi: int) -> None:
        for s in range(qlo, qhi, chunk):
            e = min(s + chunk, qhi)
            qsubs = q[s:e].reshape(e - s, m_subspaces, sub)
            # (q, M, K) squared L2 LUT — exact, float64
            diff = qsubs[:, :, None, :] - cents[None, :, :, :]
            lut = np.einsum("qmkd,qmkd->qmk", diff, diff)
            lut32 = lut.astype(np.float32)
            d2 = lut32[:, 0, :][:, codes_i[:, 0]].copy()  # (q, N)
            for m in range(1, m_subspaces):
                d2 += lut32[:, m, :][:, codes_i[:, m]]
            from fastpyvectordb_spark.operators.knn import topk_rows_tied

            p = topk_rows_tied(d2, ids, cand)
            for j in range(e - s):
                cidx = p[j]
                d2_64 = lut[j, 0][codes_i[cidx, 0]].copy()
                for m in range(1, m_subspaces):
                    d2_64 += lut[j, m][codes_i[cidx, m]]
                d = np.sqrt(np.maximum(d2_64, 0.0))
                if round_digits is not None:
                    d = np.round(d, round_digits)
                order = np.lexsort((ids[cidx], d))[:kk]
                out_d[s + j] = d[order]
                out_i[s + j] = ids[cidx[order]]

    from fastpyvectordb_spark.operators.knn import query_blocks

    n_threads = query_blocks(nq, chunk)
    if n_threads <= 1:
        run_queries(0, nq)
    else:
        from concurrent.futures import ThreadPoolExecutor

        span = -(-nq // n_threads)
        span = -(-span // chunk) * chunk
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            futs = [
                pool.submit(run_queries, lo, min(lo + span, nq))
                for lo in range(0, nq, span)
            ]
            for f in futs:
                f.result()
    return out_d, out_i


# ---------------------------------------------------------------------------
# Trained-state persistence + reference .npz interop (the reference
# saves trained quantizers — quantization.py:196-215 SQ save/load via
# np.savez — so a restart/migration never retrains). Trained states
# here are SMALL tables (SQ: dims rows; BQ: dims rows; PQ: m×k rows),
# persisted as one-file parquet artifacts keyed to the collection
# version they were trained against.
# ---------------------------------------------------------------------------

_QUANT_SCHEMAS = {
    "sq": ("dim int, vmin double, vmax double, scale double", ["dim"]),
    "bq": ("dim int, threshold double", ["dim"]),
    "pq": ("m int, cidx int, cvec array<double>", ["m", "cidx"]),
}


def save_quantizer(
    stats: DataFrame, path: str, kind: str, version: str | None = None
) -> None:
    """Persist a trained quantizer state table (``sq_train`` /
    ``bq_train`` / ``pq_train_kmeans`` output) as a single parquet file
    plus a JSON sidecar recording the kind and the collection version
    it was trained against — the restart/migration path the reference
    covers with ``ScalarQuantizer.save`` (quantization.py:196-202)."""
    import json
    import os

    if kind not in _QUANT_SCHEMAS:
        raise ValueError(f"unknown quantizer kind: {kind!r}")
    os.makedirs(path, exist_ok=True)
    stats.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "state")
    )
    mp = os.path.join(path, "quantizer.json")
    tmp = mp + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"kind": kind, "format": 1, "version": version}, f)
    os.rename(tmp, mp)  # crash-atomic: no corrupt half-written meta


def load_quantizer(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Load a saved quantizer: ``(state_df, meta)``. The state comes
    back ordered on its key columns, so downstream ``collect()`` into
    per-dim literal arrays is deterministic."""
    import json
    import os

    with open(os.path.join(path, "quantizer.json")) as f:
        meta = json.load(f)
    schema, keys = _QUANT_SCHEMAS[meta["kind"]]
    df = (
        spark.read.schema(schema)
        .parquet(os.path.join(path, "state"))
        .orderBy(*keys)
    )
    return df, meta


def collection_quantizer_path(collection, name: str) -> str:
    """Artifact home for a collection's trained quantizer — keyed under
    ``_artifacts/`` (invisible to version resolution and
    ``list_collections``)."""
    import os

    return os.path.join(collection.path, "_artifacts", name)


def save_collection_quantizer(
    collection, stats: DataFrame, kind: str, name: str | None = None
) -> str:
    """Persist a quantizer trained on ``collection``'s CURRENT version;
    :func:`load_collection_quantizer` reports staleness when the
    collection has advanced past it."""
    p = collection_quantizer_path(collection, name or kind)
    save_quantizer(stats, p, kind, version=collection._current_version())
    return p


def load_collection_quantizer(
    collection, name: str
) -> tuple[DataFrame, dict, bool]:
    """``(state_df, meta, stale)`` — ``stale`` is True when the
    collection advanced since training (retrain or accept drift)."""
    df, meta = load_quantizer(
        collection.spark, collection_quantizer_path(collection, name)
    )
    stale = meta.get("version") != collection._current_version()
    return df, meta, stale


def import_sq_npz(spark: SparkSession, path: str) -> DataFrame:
    """Import a reference ``ScalarQuantizer.save`` archive
    (quantization.py:196-202: ``min_vals``/``max_vals``/``scale``/
    ``dimensions``) into the ``sq_train`` state shape — migration
    without retraining."""
    import numpy as np

    data = np.load(path)
    dims = int(data["dimensions"])
    vmin = np.asarray(data["min_vals"], dtype=np.float64)
    vmax = np.asarray(data["max_vals"], dtype=np.float64)
    scale = np.asarray(data["scale"], dtype=np.float64)
    if not (len(vmin) == len(vmax) == len(scale) == dims):
        raise ValueError(
            f"npz arrays disagree with dimensions={dims}: "
            f"{len(vmin)}/{len(vmax)}/{len(scale)}"
        )
    rows = [
        (d, float(vmin[d]), float(vmax[d]), float(scale[d]))
        for d in range(dims)
    ]
    return spark.createDataFrame(
        rows, "dim int, vmin double, vmax double, scale double"
    )


def export_sq_npz(stats: DataFrame, path: str) -> None:
    """Write ``sq_train`` state as a reference-loadable ``.npz``
    (byte-compatible with ``ScalarQuantizer.load``,
    quantization.py:205-215) — the reverse migration."""
    import numpy as np

    rows = stats.orderBy("dim").collect()
    np.savez(
        path,
        min_vals=np.asarray([r["vmin"] for r in rows], dtype=np.float32),
        max_vals=np.asarray([r["vmax"] for r in rows], dtype=np.float32),
        scale=np.asarray([r["scale"] for r in rows], dtype=np.float32),
        dimensions=len(rows),
    )
