"""Kernel microbench — adjudicate the VERDICT-r10 suspect serving rows.

``sq_local_qps`` (2,240 r8 → 1,855 r9 → 1,174 r10) and ``gemm_100k_qps``
(1,234 r9 → 721 r10) drifted against healthy calibration probes.  Two
candidate explanations, this tool separates them IN-PROCESS and
Spark-free so JVM/scheduler noise cannot blur the reading:

1. **Host**: every packed serving kernel is bandwidth/GEMM bound; the
   fleet's hosts swing 0.3–0.5× round to round.  A fresh best-of-3
   probe pair (memory bandwidth + f32 GEMM GFLOPS — byte-identical to
   bench.py's ``_calibrate``) is taken IMMEDIATELY next to each kernel
   timing, and the kernel/probe ratio is compared against the same
   ratio reconstructed from the r8/r9/r10 bench tapes.

2. **Code (the round-10 change)**: commit 79b6d40 rerouted the SQ/PQ/BQ
   candidate cuts from bare ``np.argpartition`` to the sampled-threshold
   ``topk_rows_tied``.  The bisect twin below times BOTH selection
   strategies on the exact key-matrix shape ``sq_search_local`` produces
   (128-query chunk × 100k f64 keys, cand=64), so a code regression
   shows directly as sampled/argpartition < 1.

Fixture = bench.py's own 100k×64 corpus (the deterministic double-sine
synth) and its 1024 data-drawn queries, rebuilt in NumPy — identical
values, no Spark session.

Usage:  python tools/kernel_microbench.py   # prints one JSON line
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np

sys.path.insert(0, "/root/repo")

N_BIG = 100_000
DIMS = 64
N_QUERIES = 1024
K = 10

# (sq_local_qps, gemm_100k_qps, cal2_gemm_gflops, cal_big_gemm_gflops)
# from the recorded round tapes — the denominators each row normalized
# against in its round (sq normalizes vs cal2, gemm_100k vs cal_big).
TAPE = {
    "r8": {"sq": 2240.7, "gemm": 642.8, "cal2": 478.1, "cal_big": 456.5},
    "r9": {"sq": 1855.1, "gemm": 1233.7, "cal2": 96.3, "cal_big": 452.5},
    "r10": {"sq": 1174.3, "gemm": 720.6, "cal2": 427.5, "cal_big": 392.7},
}


def calibrate() -> tuple[float, float]:
    """bench.py's probe pair: 200 MB copy bandwidth + 1024³ f32 GEMM
    GFLOPS, best-of-3 each."""
    cal = np.ones(50_000_000, dtype=np.float32)
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        cal.copy()
        best = max(best, 0.4 / (time.perf_counter() - t0))
    g = np.ones((1024, 1024), dtype=np.float32)
    gf = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(5):
            g @ g
        gf = max(gf, 5 * 2 * 1024**3 / (time.perf_counter() - t0) / 1e9)
    del cal, g
    return round(best, 2), round(gf, 1)


def synth() -> np.ndarray:
    """NumPy twin of bench.py's ``_synth_vectors`` expression."""
    ids = np.arange(N_BIG, dtype=np.float64)[:, None]
    d = np.arange(DIMS, dtype=np.float64)[None, :]
    v = np.sin(ids * 0.7 + d * 1.3 + ids * d * 0.0137)
    v += np.sin(ids * 91.7 + d * 47.111) * 0.1
    return v.astype(np.float32)


def best_of(fn, repeats=7) -> float:
    import gc

    best = float("inf")
    for _ in range(repeats):
        gc.collect()
        gc.disable()
        try:
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        finally:
            gc.enable()
    return best


def main() -> None:
    from fastpyvectordb_spark.operators.knn import (
        _gemm_topk_chunked,
        topk_rows_tied,
    )
    from fastpyvectordb_spark.operators.quantization import (
        sq_encode_queries,
        sq_search_local,
    )

    out: dict[str, object] = {"metric": "kernel_microbench"}

    vmat = synth()
    qsel = np.arange(0, N_BIG, 97)[:N_QUERIES]
    qmat = vmat[qsel]

    # ---- SQ kernel (the sq_local_qps suspect) -----------------------
    v64 = vmat.astype(np.float64)
    vmins = v64.min(axis=0)
    vmaxs = v64.max(axis=0)
    scales = np.where(vmaxs - vmins == 0, 1.0, vmaxs - vmins)
    codes = sq_encode_queries(v64, vmins, scales)  # same codec, corpus side
    qcodes = sq_encode_queries(qmat.astype(np.float64), vmins, scales)
    ids = np.arange(N_BIG, dtype=np.int64)

    sq_mem_bw, sq_gflops = calibrate()  # probe ADJACENT to the timing
    sq_search_local(ids, codes, vmins, scales, qcodes, k=K)  # warm
    sq_t = best_of(
        lambda: sq_search_local(
            ids, codes, vmins, scales, qcodes, k=K, metric="l2"
        )
    )
    out["cal_sq_mem_bw_gbps"], out["cal_sq_gemm_gflops"] = sq_mem_bw, sq_gflops
    out["sq_kernel_qps"] = round(N_QUERIES / sq_t, 1)

    # ---- bisect twin: sampled topk_rows_tied vs bare argpartition ---
    # the exact selection shape inside sq_search_local: one 128-query
    # chunk of f64 keys over the full corpus, cand = max(4·k, 64)
    cand = max(4 * K, 64)
    key = (
        qmat[:128].astype(np.float64) @ v64.T
    )  # any f64 key matrix of the right shape works — this is the real one
    t_sampled = best_of(lambda: topk_rows_tied(key, ids, cand))
    t_argpart = best_of(
        lambda: np.argpartition(key, cand - 1, axis=1)[:, :cand]
    )
    out["sel_sampled_ms"] = round(t_sampled * 1e3, 2)
    out["sel_argpartition_ms"] = round(t_argpart * 1e3, 2)
    out["sel_speedup_vs_argpartition"] = round(t_argpart / t_sampled, 2)

    # ---- K6 GEMM kernel (the gemm_100k_qps suspect) ------------------
    pos = np.arange(N_BIG, dtype=np.int64)
    gemm_mem_bw, gemm_gflops = calibrate()
    _gemm_topk_chunked(qmat, vmat, pos, K, "cosine")  # warm
    g_t = best_of(lambda: _gemm_topk_chunked(qmat, vmat, pos, K, "cosine"))
    out["cal_gemm_mem_bw_gbps"] = gemm_mem_bw
    out["cal_gemm_gemm_gflops"] = gemm_gflops
    out["gemm_kernel_qps"] = round(N_QUERIES / g_t, 1)

    # ---- adjudication table ------------------------------------------
    # per-round row/probe ratios from the tapes vs today's measurement
    out["sq_per_gflop_today"] = round(out["sq_kernel_qps"] / sq_gflops, 3)
    out["sq_per_gflop_tape"] = {
        r: round(t["sq"] / t["cal2"], 3) for r, t in TAPE.items()
    }
    out["gemm_per_gflop_today"] = round(
        out["gemm_kernel_qps"] / gemm_gflops, 3
    )
    out["gemm_per_gflop_tape"] = {
        r: round(t["gemm"] / t["cal_big"], 3) for r, t in TAPE.items()
    }
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
