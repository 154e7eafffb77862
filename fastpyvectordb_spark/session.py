"""SparkSession factory with scale-oriented defaults.

Defaults target the local[32] test harness but every knob is the one
you'd set on a 1000-executor cluster too: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), Arrow on (vectorized
pandas-UDF exchange), sensible shuffle parallelism.
"""

from __future__ import annotations

import ctypes
import functools
import glob
import logging
import os
import threading

from pyspark.sql import SparkSession

# (setter, getter) symbol pairs of the OpenBLAS builds NumPy wheels
# ship: ILP64 with the 64_ suffix, plain LP64, and scipy-openblas
_OPENBLAS_API = (
    ("openblas_set_num_threads64_", "openblas_get_num_threads64_"),
    ("openblas_set_num_threads", "openblas_get_num_threads"),
    ("scipy_openblas_set_num_threads64_", "scipy_openblas_get_num_threads64_"),
)


@functools.cache
def _openblas():
    """``(set_num_threads, get_num_threads)`` of the OpenBLAS NumPy
    loaded, or None when NumPy runs on another BLAS."""
    import numpy

    try:
        with open("/proc/self/maps") as f:
            paths = {ln.split()[-1] for ln in f if "openblas" in ln.lower()}
    except OSError:  # no procfs: the wheel's bundled copy
        libs = os.path.join(os.path.dirname(numpy.__path__[0]), "numpy.libs")
        paths = set(glob.glob(os.path.join(libs, "*openblas*")))
    for path in sorted(p for p in paths if os.path.isabs(p)):
        lib = ctypes.CDLL(path)
        for set_name, get_name in _OPENBLAS_API:
            if hasattr(lib, set_name) and hasattr(lib, get_name):
                setter, getter = getattr(lib, set_name), getattr(lib, get_name)
                setter.argtypes, setter.restype = [ctypes.c_int], None
                getter.argtypes, getter.restype = [], ctypes.c_int
                return setter, getter
    return None


def blas_threads() -> int | None:
    """Threads the driver's OpenBLAS fans one call across (None when
    NumPy does not use OpenBLAS)."""
    api = _openblas()
    return None if api is None else api[1]()


def pin_blas_to_one_thread() -> None:
    """Run OpenBLAS single-threaded in this process (a no-op without
    OpenBLAS); :func:`blas_threads` reports the result."""
    api = _openblas()
    if api is not None:
        api[0](1)


_POOL = None  # (pid, executor) — one global, so readers see both at once
_POOL_LOCK = threading.Lock()


def driver_pool_workers() -> int:
    """Worker count of :func:`driver_pool` (callers size per-worker
    buffers and block counts by it)."""
    return min(8, os.cpu_count() or 1)


def driver_pool():
    """ONE persistent thread pool per process for driver-side NumPy
    kernels: the PQ subspace maps, the coarse GEMM Lloyd and large
    single-query matvecs. With BLAS on one thread this pool is where
    those kernels get their cores (NumPy releases the GIL inside
    them); idle workers block on a queue instead of spinning. A
    persistent pool, because creating one per call cost ~2 s per PQ
    train (173 pools, 1,321 thread spawns). Lazy, created under a
    lock so threads racing the first call share one pool, and
    PID-guarded so a forked PySpark worker never inherits dead
    threads. Tasks on it must not wait on further pool work: with
    every worker waiting, nothing runs the queued tasks."""
    global _POOL
    pool = _POOL
    if pool is None or pool[0] != os.getpid():
        with _POOL_LOCK:
            pool = _POOL
            if pool is None or pool[0] != os.getpid():
                from concurrent.futures import ThreadPoolExecutor

                pool = _POOL = (
                    os.getpid(),
                    ThreadPoolExecutor(
                        max_workers=driver_pool_workers(),
                        thread_name_prefix="driver-pool",
                    ),
                )
    return pool[1]


def get_spark(
    app_name: str = "fastpyvectordb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    blas_pin = {
        var: "1"
        for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")
    }
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events table stores TIMESTAMP(NANOS); read as
        # long and convert in the loader (Spark has no ns timestamps)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    # One BLAS thread per task slot in executor-side Python workers:
    # every core already runs a Spark task, so a multi-threaded
    # OpenBLAS inside each of the 32 workers oversubscribes the box
    # ~32x (and OpenBLAS spin-waits, starving the JVM long after the
    # GEMM finishes).
    for var, val in blas_pin.items():
        builder = builder.config(f"spark.executorEnv.{var}", val)
    # The driver gets the same policy. Its BLAS calls are per-request
    # matvecs and small GEMMs: a multi-threaded OpenBLAS wakes every
    # worker for each one, and the workers then spin-wait between
    # requests, burning the cores that request threads and the JVM's
    # commit jobs need. Driver parallelism comes from concurrent
    # request threads (NumPy releases the GIL inside BLAS) and the
    # explicit pools instead. NumPy is already imported here, so the
    # env vars above would come too late: set it through the library.
    pin_blas_to_one_thread()
    # escape hatch for one-off heavy runs ("key=value;key=value") —
    # e.g. tools/scale_spotcheck.py sets an aggressive
    # spark.cleaner.periodicGC.interval so multi-phase shuffle files
    # are reclaimed between phases instead of accumulating until the
    # default 30min sweep (a 1M-row multi-phase run spills faster than
    # that on this host's disk)
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            key, val = pair.split("=", 1)
            # visible in startup output: a leftover env var from a
            # heavy-run tool would otherwise invisibly alter every
            # later get_spark() in the process (ADVICE r9)
            logging.getLogger(__name__).info(
                "SPARK_GRAFT_EXTRA_CONF applying %s=%s",
                key.strip(), val.strip(),
            )
            builder = builder.config(key.strip(), val.strip())
    return builder.getOrCreate()
