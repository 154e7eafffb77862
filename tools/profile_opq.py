"""Phase-level profile of the OPQ trainer (``ann.ivfpq._train_opq``) and
the shared KMeans kernels it runs on (``ann.kmeans``).

Spark-free: times k-means|| seeding of all M subspaces, one batched
assign pass (pooled, then serially split into GEMM / add-norms /
argmin), one Lloyd update's bincounts, the f32 subspace copy the
trainer makes per rotation, and then ``_train_opq`` end to end. Run on
a quiet host; repeat readings (best-of-N) absorb in-run host swings.

Usage: python tools/profile_opq.py [n_rows] [reps] [M] [K]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def _timed(fn, reps, *a):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(*a)
        best = min(best, time.perf_counter() - t0)
    return best


def phase_profile(n=90_000, dims=64, M=8, K=16, reps=3):
    from fastpyvectordb_spark.ann import kmeans

    rng = np.random.RandomState(7)
    sample = rng.randn(n, dims)
    x3 = sample.reshape(n, M, dims // M).transpose(1, 0, 2)
    x32 = np.ascontiguousarray(x3, dtype=np.float32)

    t0 = time.perf_counter()
    cbs = kmeans.train(x3, K, 0, seed=42)  # seeding only
    t_seed = time.perf_counter() - t0

    t_assign = _timed(kmeans.assign, reps, x32, cbs)

    chunk = kmeans._SCORE_BUDGET // K
    res = {}

    def serial_phases():
        g = a = am = 0.0
        codes = np.empty((M, n), dtype=np.int64)
        for m in range(M):
            c = cbs[m].astype(np.float32)
            csq = np.einsum("ij,ij->i", c, c)
            ct2 = np.ascontiguousarray(c.T)
            ct2 *= -2.0
            for s in range(0, n, chunk):
                t0 = time.perf_counter()
                b = x32[m, s:s + chunk] @ ct2
                t1 = time.perf_counter()
                b += csq
                t2 = time.perf_counter()
                codes[m, s:s + chunk] = b.argmin(1)
                t3 = time.perf_counter()
                g += t1 - t0
                a += t2 - t1
                am += t3 - t2
        res.update(gemm=g, add=a, argmin=am)
        return codes

    t_serial = _timed(serial_phases, reps)
    codes = serial_phases()
    x64 = np.ascontiguousarray(x3)

    def upd():
        c = cbs.copy()
        for m in range(M):
            kmeans._lloyd_update(c[m], x64[m], codes[m])

    t_upd = _timed(upd, reps)
    t_copy = _timed(np.ascontiguousarray, reps, x3, np.float32)

    print(f"k-means|| seeding, M={M}:        {t_seed*1e3:8.1f} ms")
    print(f"assign pooled(best of {reps}):     {t_assign*1e3:8.1f} ms")
    print(f"assign serial(best of {reps}):     {t_serial*1e3:8.1f} ms "
          f"(gemm {res['gemm']*1e3:.1f}, add {res['add']*1e3:.1f}, "
          f"argmin {res['argmin']*1e3:.1f})")
    print(f"lloyd update serial:               {t_upd*1e3:8.1f} ms")
    print(f"f32 subspace copy:                 {t_copy*1e3:8.1f} ms")


def full_trainer(n=90_000, dims=64, M=8, K=16, iters=20):
    from fastpyvectordb_spark.ann.ivfpq import _train_opq

    rng = np.random.RandomState(7)
    sample = rng.randn(n, dims)
    t0 = time.perf_counter()
    _train_opq(sample, M, K, seed=42, opq_iters=iters)
    t = time.perf_counter() - t0
    print(f"_train_opq({n}x{dims}, M={M}, K={K}, {iters} iters): {t:8.1f} s")


if __name__ == "__main__":
    argv = [int(a) for a in sys.argv[1:]]
    n, reps, M, K = argv + [90_000, 3, 8, 16][len(argv):]
    from fastpyvectordb_spark.session import pin_blas_to_one_thread

    # the driver runs OpenBLAS on one thread (session.get_spark); the
    # pool is the only parallelism
    pin_blas_to_one_thread()
    phase_profile(n=n, M=M, K=K, reps=reps)
    full_trainer(n=n, M=M, K=K)
