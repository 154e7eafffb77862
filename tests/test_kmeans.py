"""The one KMeans module (``ann.kmeans``): trainer properties, batched
and pooled bit-identity, the Spark column form against the driver
kernel, a recall pin on the seeding, and the no-MLlib guard."""

from __future__ import annotations

import os
import re

import numpy as np
from fastpyvectordb_spark.ann import kmeans
from fastpyvectordb_spark.ann.kmeans import assign, train


def _blobs(seed, n, dims, n_blobs=16, noise=0.1, n_queries=64):
    """Unit vectors around ``n_blobs`` unit centres (the perfbench
    collection's mixture), plus held-out queries from the same
    mixture."""
    r = np.random.RandomState(seed)
    cen = r.randn(n_blobs, dims)
    cen /= np.linalg.norm(cen, axis=1, keepdims=True)
    x = cen[r.randint(n_blobs, size=n + n_queries)]
    x = x + noise * r.randn(*x.shape)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x[:n], x[n:]


def test_train_is_deterministic_and_returns_min_k_n():
    x, _ = _blobs(1, 2000, 16, n_queries=0)
    a = train(x, 40, 5, seed=3)
    assert a.shape == (40, 16) and np.isfinite(a).all()
    assert np.array_equal(a, train(x, 40, 5, seed=3))
    assert not np.array_equal(a, train(x, 40, 5, seed=4))
    # fewer distinct points than k: n < k → n centroids; n ≥ k → k
    pts = np.random.RandomState(0).randn(3, 4)
    for n, want in ((6, 6), (20, 8)):
        c = train(pts[np.arange(n) % 3], 8, 4, seed=0)
        assert c.shape == (want, 4) and np.isfinite(c).all()
    assert train(pts[:1], 1, 3, seed=0).shape == (1, 4)
    assert train(pts[:0], 8, 3, seed=0).shape == (0, 4)


def test_empty_cluster_keeps_its_centroid():
    x, _ = _blobs(2, 500, 8, n_blobs=2, n_queries=0)
    far = np.full(8, 50.0)
    init = np.vstack([x[0], x[1], far])
    c = train(x, 3, 4, seed=0, init=init)
    assert np.array_equal(c[2], far)
    assert not np.array_equal(c[:2], init[:2])


def test_batched_matches_per_subspace_loop():
    r = np.random.RandomState(4)
    x3 = r.randn(4, 3000, 4)
    c3 = train(x3, 16, 5, seed=7)
    loop = np.stack([train(x3[m], 16, 5, seed=7 + m) for m in range(4)])
    assert np.array_equal(c3, loop)
    x32 = np.ascontiguousarray(x3, dtype=np.float32)
    codes = assign(x32, c3)
    assert codes.shape == (4, 3000)
    assert np.array_equal(
        codes, np.stack([assign(x32[m], c3[m]) for m in range(4)])
    )


def test_pooled_matches_serial(monkeypatch):
    """Several chunks per call (n > 2·chunk), in both seeding regimes:
    pooled chunks write disjoint slices with the serial GEMM shapes."""
    x, _ = _blobs(5, 20_000, 16, n_queries=0)
    k = 300
    assert len(x) > 2 * (kmeans._SCORE_BUDGET // k)
    x32 = x.astype(np.float32)

    def run():
        return (
            train(x, k, 3, seed=1),
            assign(x32, x[:k]),
            assign(x, x[:k]),
        )

    for max_work in (kmeans._KMEANS_PARALLEL_MAX_WORK, 1):
        monkeypatch.setattr(kmeans, "_KMEANS_PARALLEL_MAX_WORK", max_work)
        pooled = run()
        with monkeypatch.context() as m:
            m.setattr(kmeans, "_pooled", lambda: False)
            serial = run()
        for p, s in zip(pooled, serial):
            assert np.array_equal(p, s)


def test_ivf_build_assignment_is_assign(embeddings):
    """``ivf_build``'s list column (``assign_col``) equals the f64
    driver kernel on the centroids it trained, on a tie-free corpus and
    on both arms: the codegen expression (8 lists × 64 dims = 512
    centroid floats) and the Arrow UDF (32 × 64 = 2,048)."""
    from fastpyvectordb_spark.ann.ivf import ivf_build

    rows = embeddings.select("vec_id", "embedding").toPandas()
    x = np.stack([np.asarray(v, dtype=np.float64) for v in rows["embedding"]])
    for n_lists in (8, 32):
        idx = ivf_build(embeddings, n_lists=n_lists, max_iter=10, train_rows=200)
        lids = dict(
            idx.assigned.select("vec_id", "list_id").toPandas().to_numpy()
        )
        want = assign(x, idx.centroids)
        assert [lids[v] for v in rows["vec_id"]] == want.tolist()


def _ivf_recall(x, q, cents, nprobe, k=10):
    lists = assign(x, cents)
    d = (x * x).sum(1)[None, :] - 2.0 * (q @ x.T)
    exact = np.argsort(d, axis=1)[:, :k]
    cd = (cents * cents).sum(1)[None, :] - 2.0 * (q @ cents.T)
    probes = np.argsort(cd, axis=1)[:, :nprobe]
    hits = 0
    for i in range(len(q)):
        cand = np.flatnonzero(np.isin(lists, probes[i]))
        top = cand[np.argsort(d[i, cand])[:k]]
        hits += len(np.intersect1d(top, exact[i]))
    return hits / (len(q) * k)


def test_kmeans_parallel_seeding_recall_pin():
    """k-means|| seeding is what keeps 3-pass IVF recall at MLlib's
    level. On three 16-blob mixtures (4K×128, 64 lists, 3 passes, 3
    probes) it reads a mean recall@10 of 0.973; random-subset and
    k-means++ seeding with the same Lloyd passes read 0.908 and 0.907
    and fail the bar."""
    recalls = []
    for s in range(3):
        x, q = _blobs(100 + s, 4000, 128)
        recalls.append(_ivf_recall(x, q, train(x, 64, 3, seed=s), nprobe=3))
    assert np.mean(recalls) >= 0.95, recalls


def test_package_has_no_mllib_import():
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fastpyvectordb_spark",
    )
    pat = re.compile(r"^\s*(from|import)\s+pyspark\.ml\b", re.M)
    hits = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f)) as fh:
                    if pat.search(fh.read()):
                        hits.append(os.path.join(d, f))
    assert not hits, hits


def test_assign_col_runs_in_workers_from_any_directory():
    """The ``pandas_udf`` arm of ``assign_col`` unpickles package
    functions in Spark's Python workers, so a driver started outside
    the repo, without ``PYTHONPATH``, must still ship the package's
    location to them (``session.get_spark``)."""
    import subprocess
    import sys
    import tempfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {root!r})
import numpy as np
from pyspark.sql import functions as F
from fastpyvectordb_spark.ann import kmeans
from fastpyvectordb_spark.session import get_spark

spark = get_spark("worker-import", master="local[2]", shuffle_partitions=2)
c = np.random.RandomState(0).randn(64, 32)  # 2,048 floats: the UDF arm
df = spark.createDataFrame(
    [(i, [float(x) for x in c[i % 64]]) for i in range(256)],
    "i int, v array<float>",
)
got = [r["l"] for r in df.select(
    "i", kmeans.assign_col(F.col("v"), c).alias("l")
).orderBy("i").collect()]
assert got == [i % 64 for i in range(256)], got
print("ASSIGNED", len(got))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tempfile.gettempdir(), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert "ASSIGNED 256" in out.stdout, out.stderr[-3000:]
