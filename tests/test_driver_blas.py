"""Driver BLAS threading: ``get_spark`` runs the driver's OpenBLAS on
one thread, so serving requests do not wake BLAS workers that then
spin-wait on the cores the request threads and the JVM need."""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pytest

from fastpyvectordb_spark.catalog import VectorDB
from fastpyvectordb_spark.session import blas_threads


def _thread_cpu_s() -> dict[int, float]:
    """CPU seconds (user + system) of every thread of this process."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for tid in os.listdir("/proc/self/task"):
        try:
            with open(f"/proc/self/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:  # thread exited meanwhile
            continue
        out[int(tid)] = (int(fields[11]) + int(fields[12])) / tick
    return out


def test_get_spark_pins_driver_blas_to_one_thread(spark):
    if blas_threads() is None:
        pytest.skip("NumPy does not use OpenBLAS here")
    assert blas_threads() == 1


@pytest.mark.skipif(
    not os.path.isdir("/proc/self/task"), reason="needs Linux procfs"
)
def test_resident_search_leaves_no_spinning_threads(spark, tmp_path):
    """200 resident single-query searches with 5 ms pauses between
    them: no thread but the caller's may stay busy. A multi-threaded
    OpenBLAS fails this — each matvec wakes its workers, which then
    spin through the pauses at ~100% of a core each."""
    if blas_threads() is None:
        pytest.skip("NumPy does not use OpenBLAS here")
    rng = np.random.RandomState(0)
    n, d = 2000, 16  # n·d well above OpenBLAS's threading threshold
    c = VectorDB(spark, str(tmp_path / "spin")).create_collection(
        "spin", dimensions=d
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"v{i}", rng.randn(d).tolist()) for i in range(n)],
            "id string, embedding array<float>",
        )
    )
    pack = c.pack_serving()
    assert pack is not None
    queries = rng.randn(200, d).tolist()
    me = threading.get_native_id()
    before = _thread_cpu_s()
    t0 = time.monotonic()
    for q in queries:
        assert len(c.search_local(q, k=10, pack=pack)) == 10
        time.sleep(0.005)
    wall = time.monotonic() - t0
    after = _thread_cpu_s()
    busy = {
        tid: (cpu - before.get(tid, 0.0)) / wall
        for tid, cpu in after.items()
        if tid != me
    }
    assert max(busy.values(), default=0.0) <= 0.2, busy


def test_driver_pool_first_call_race_shares_one_pool(monkeypatch):
    """Threads racing the first ``driver_pool`` call must all get the
    same executor — a check-then-set without a lock lets each build
    its own and leak the losers' idle threads."""
    import concurrent.futures
    import sys

    from fastpyvectordb_spark import session

    real = concurrent.futures.ThreadPoolExecutor
    made = []

    def slow_executor(*args, **kwargs):
        time.sleep(0.05)  # widen the check-then-set window
        pool = real(*args, **kwargs)
        made.append(pool)
        return pool

    monkeypatch.setattr(session, "_POOL", None)
    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", slow_executor)
    n_threads = 16
    barrier = threading.Barrier(n_threads)
    got = [None] * n_threads

    def first_call(i):
        barrier.wait(timeout=10)
        got[i] = session.driver_pool()

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=first_call, args=(i,))
            for i in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old_interval)
        for pool in made:
            pool.shutdown(wait=False)
    assert len(made) == 1
    assert all(p is made[0] for p in got)


def test_pooled_matvec_is_bit_identical(monkeypatch, spark):
    """Row blocks of a pooled matvec start on multiples of
    ``_MATVEC_BLOCK_ROWS``, so every row takes the kernel path it takes
    in one whole-matrix call: equal bits for every shape, including
    row counts that leave a short tail block."""
    from fastpyvectordb_spark.operators import knn

    monkeypatch.setattr(knn, "_MATVEC_POOL_MIN_FLOATS", 0)
    rng = np.random.RandomState(5)
    for n, d in ((2048, 8), (9001, 17), (30_001, 64), (12_289, 128)):
        v = rng.randn(n, d).astype(np.float32)
        q = rng.randn(d).astype(np.float32)
        assert np.array_equal(knn.matvec(v, q), v @ q), (n, d)
