"""ANN accelerator recall gates vs the exact operator (reference-style
recall@k harness, quantization.py:691-703 pattern)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastpyvectordb_spark.ann.ivf import ivf_build, ivf_search
from fastpyvectordb_spark.ann.lsh import add_signatures, hyperplanes, lsh_knn
from fastpyvectordb_spark.operators.knn import knn


def _exact(embeddings, qvec, k=10):
    return [r["vec_id"] for r in knn(embeddings, qvec, k=k).collect()]


def _recall(approx, exact):
    return len(set(approx) & set(exact)) / len(exact)


@pytest.mark.slow
def test_lsh_recall(embeddings):
    """This corpus is weakly clustered (nearest cosine sim ~0.3), the
    hardest regime for hyperplane LSH. Offline numpy sweep: ~0.53
    recall at a 26% scan fraction vs ~0.26 expected for a random scan
    of the same size — the gate checks LSH beats random pruning, with
    the honest absolute level for this data."""
    planes = hyperplanes(64, n_bits=6, seed=42)
    signed = add_signatures(embeddings, planes).cache()
    recalls = []
    for qid in range(5):
        qvec = embeddings.filter(F.col("vec_id") == qid).head()["embedding"]
        approx = [
            r["vec_id"]
            for r in lsh_knn(signed, qvec, planes, k=10, multiprobe=16).collect()
        ]
        recalls.append(_recall(approx, _exact(embeddings, qvec)))
    mean = float(np.mean(recalls))
    assert mean >= 0.4, f"LSH mean recall@10 {mean} ({recalls})"


@pytest.mark.slow
def test_lsh_prunes_candidates(embeddings):
    planes = hyperplanes(64, n_bits=6, seed=42)
    signed = add_signatures(embeddings, planes).cache()
    qvec = embeddings.filter(F.col("vec_id") == 3).head()["embedding"]
    from fastpyvectordb_spark.ann.lsh import query_buckets

    buckets = query_buckets(qvec, planes, multiprobe=8)
    n_cand = signed.filter(F.col("lsh_sig").isin(buckets)).count()
    n_all = embeddings.count()
    assert 0 < n_cand < n_all * 0.5, f"candidates {n_cand}/{n_all} — no pruning"


@pytest.mark.slow
def test_ivf_recall_and_pruning(embeddings):
    index = ivf_build(embeddings, n_lists=32)
    index.assigned.cache()
    n_all = embeddings.count()
    recalls, frac = [], []
    for qid in range(5):
        qvec = embeddings.filter(F.col("vec_id") == qid).head()["embedding"]
        approx = [
            r["vec_id"] for r in ivf_search(index, qvec, k=10, nprobe=8).collect()
        ]
        recalls.append(_recall(approx, _exact(embeddings, qvec)))
        q = np.asarray(qvec, dtype=np.float64)
        d = ((index.centroids - q) ** 2).sum(axis=1)
        probe = [int(i) for i in np.argsort(d)[:8]]
        frac.append(
            index.assigned.filter(F.col("list_id").isin(probe)).count() / n_all
        )
    mean = float(np.mean(recalls))
    assert mean >= 0.7, f"IVF mean recall@10 {mean} ({recalls})"
    assert float(np.mean(frac)) < 0.5, f"probed fraction {frac} — weak pruning"


@pytest.mark.slow
def test_ivf_batch_matches_single(embeddings):
    """Batched IVF (one GEMM per probed list for that list's query
    subset) must return exactly what per-query IVF probing returns —
    same probe decisions, same exact rerank."""
    from fastpyvectordb_spark.ann.ivf import ivf_search_batch

    index = ivf_build(embeddings, n_lists=32)
    index.assigned.cache()
    qpdf = (
        embeddings.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .toPandas()
    )
    got = ivf_search_batch(index, qpdf, k=10, nprobe=8).toPandas()
    assert len(got) == 8 * 10
    for qid in range(8):
        qvec = embeddings.filter(F.col("vec_id") == qid).head()["embedding"]
        single = [
            r["vec_id"]
            for r in ivf_search(index, qvec, k=10, nprobe=8).collect()
        ]
        batch = got[got["query_id"] == qid].sort_values("rank")[
            "vec_id"
        ].tolist()
        assert batch == single, f"query {qid}: {batch} != {single}"


@pytest.mark.slow
def test_ivf_partitioned_save_prunes_files(embeddings, tmp_path, spark):
    index = ivf_build(embeddings, n_lists=8)
    path = str(tmp_path / "ivf")
    index.save(path)
    re = spark.read.parquet(path)
    plan = (
        re.filter(F.col("list_id").isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "list_id" in plan


@pytest.mark.slow
def test_ivf_local_matches_distributed(embeddings):
    """The packed driver-local IVF path (ivf_pack + ivf_search_local)
    must return exactly what the distributed per-list plan returns —
    identical probe decisions, ids, ranks, and distances — for every
    metric. ivf_search_auto packs below the size threshold and caches."""
    from fastpyvectordb_spark.ann.ivf import (
        ivf_pack,
        ivf_search_auto,
        ivf_search_batch,
        ivf_search_local,
    )

    index = ivf_build(embeddings, n_lists=16, max_iter=5)
    index.assigned.cache()
    qpdf = (
        embeddings.filter(F.col("vec_id") < 16)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .toPandas()
    )
    packed = ivf_pack(index)
    assert packed.vmat.shape[0] == embeddings.count()
    for metric in ("cosine", "l2", "ip"):
        dist = (
            ivf_search_batch(index, qpdf, k=10, nprobe=4, metric=metric)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        loc = (
            ivf_search_local(packed, qpdf, k=10, nprobe=4, metric=metric)
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert len(dist) == len(loc)
        assert (dist["vec_id"].to_numpy() == loc["vec_id"].to_numpy()).all()
        assert np.allclose(dist["dist"], loc["dist"], atol=1e-6)

    auto = ivf_search_auto(index, qpdf, k=10, nprobe=4)
    assert hasattr(index, "_packed"), "auto should pack below threshold"
    assert len(auto) == 16 * 10


@pytest.mark.slow
def test_ivfpq_recall_and_refine(embeddings, spark):
    """IVF-PQ ADC with full probing must land in the reference's PQ
    recall regime (≥0.85 with exact refine, README:508); the refined
    path must strictly dominate raw ADC. nprobe=n_lists isolates the
    PQ error from the coarse-probe error."""
    from fastpyvectordb_spark.ann.ivfpq import ivfpq_build, ivfpq_search_batch

    import pandas as pd

    index = ivfpq_build(
        embeddings, n_lists=4, m_subspaces=8, n_centroids=32, max_iter=20
    )
    index.codes = index.codes.localCheckpoint()

    qrows = embeddings.filter(F.col("vec_id") < 5).orderBy("vec_id").collect()
    qpdf = pd.DataFrame(
        {
            "query_id": [r["vec_id"] for r in qrows],
            "query_vec": [list(r["embedding"]) for r in qrows],
        }
    )
    adc = ivfpq_search_batch(index, qpdf, k=10, nprobe=4).toPandas()
    ref = ivfpq_search_batch(
        index, qpdf, k=10, nprobe=4, refine_df=embeddings, refine=100
    ).toPandas()
    r_adc, r_ref = [], []
    for r in qrows:
        exact = _exact(embeddings, r["embedding"])
        r_adc.append(
            _recall(adc.loc[adc.query_id == r["vec_id"], "vec_id"], exact)
        )
        r_ref.append(
            _recall(ref.loc[ref.query_id == r["vec_id"], "vec_id"], exact)
        )
    m_adc, m_ref = float(np.mean(r_adc)), float(np.mean(r_ref))
    # ≥0.90: the reference's own PQ quality bar (README:508). Round 1
    # missed it purely through undertrained KMeans (max_iter=5).
    assert m_ref >= 0.90, f"refined recall@10 {m_ref} ({r_ref})"
    assert m_ref >= m_adc, (m_ref, m_adc)


def test_ivf_driver_gemm_fit_stays_exact(embeddings, spark, monkeypatch):
    """Full large-k regime (fit work over the threshold too): coarse
    Lloyd runs driver-side on the bounded sample with chunked-f32 GEMM
    assignment. Exhaustive probing is assignment-independent, so the
    search must still return the exact top-k; every row must be
    assigned to exactly one of the k trained lists."""
    from fastpyvectordb_spark.ann import kmeans
    from fastpyvectordb_spark.ann.ivf import ivf_build, ivf_search

    monkeypatch.setattr(kmeans, "_KMEANS_PARALLEL_MAX_WORK", 1)
    idx = ivf_build(embeddings, n_lists=8, max_iter=10, train_rows=200)
    assert idx.centroids.shape[0] == 8
    n = embeddings.count()
    assert idx.assigned.count() == n
    lids = {r["list_id"] for r in idx.assigned.select("list_id").distinct().collect()}
    assert lids <= set(range(8))
    qvec = embeddings.filter(F.col("vec_id") == 3).head()["embedding"]
    exact = _exact(embeddings, qvec)
    got = [
        r["vec_id"]
        for r in ivf_search(idx, qvec, k=10, nprobe=8).collect()
    ]
    assert got == list(exact)


def test_ivfpq_auto_n_lists(embeddings, spark):
    """``n_lists=None`` auto-sizes the coarse quantizer to ≈√N clamped
    to [16, 65536] (VERDICT r10 #2, the FAISS rule): small corpora get
    proportionate list counts (and distributed-batch group counts)
    instead of a fixed operating point tuned at another scale."""
    from fastpyvectordb_spark.ann.ivfpq import ivfpq_build

    n = embeddings.count()
    expected = max(16, min(65536, int(round(n ** 0.5))))
    idx = ivfpq_build(
        embeddings, n_lists=None, m_subspaces=8, n_centroids=16,
        max_iter=2, opq_iters=0, train_rows=500,
    )
    assert len(idx.centroids) == expected
    # and the codes cover every row exactly once
    assert idx.codes.count() == n


def test_auto_nprobe_grows_sublinearly(embeddings):
    """``nprobe=None`` resolves to ``max(8, ⌊√n_lists⌋//2)`` — probe
    width grows with the index (coverage insurance) at sublinear scan
    cost. The 10M decomposition that set the rule: candidate coverage
    at 8 probes over 3,162 lists measured 1.0000 and raw ADC recall
    was FLAT 0.80 from 8 to 80 probes, so a fraction-holding width
    (linear cost) buys nothing on clusterable data. The ef_search
    anchor (ef 50 ≡ the auto width) scales the same way once the
    trained list count is known."""
    from fastpyvectordb_spark.ann.ivf import (
        auto_nprobe,
        ivf_build,
        ivf_pack,
        ivf_search_local,
    )
    from fastpyvectordb_spark.catalog import Collection

    # bench point (√100k → 316 lists) keeps width 8; the 10M point
    # (3,162 lists) grows to 28 — inside the measured recall-flat
    # [8, 80] band; tiny indexes clamp to their list count
    assert auto_nprobe(316) == 8
    assert auto_nprobe(3162) == 28
    assert auto_nprobe(4) == 4
    # ef anchor: identical to the fixed map at ≤324 lists, scaled above
    assert Collection.nprobe_from_ef(50, n_lists=316) == 8
    assert Collection.nprobe_from_ef(50, n_lists=3162) == 28
    assert Collection.nprobe_from_ef(100, n_lists=3162) == 56
    assert Collection.nprobe_from_ef(50) == Collection.nprobe_from_ef(
        50, n_lists=316
    )
    # functional: nprobe=None ≡ the resolved explicit width
    import pandas as pd

    index = ivf_build(embeddings, n_lists=8, max_iter=3, seed=7)
    packed = ivf_pack(index)
    qvec = embeddings.filter(F.col("vec_id") == 5).head()["embedding"]
    qpdf = pd.DataFrame({"query_id": [0], "query_vec": [list(qvec)]})
    got_auto = ivf_search_local(packed, qpdf, k=10, nprobe=None)
    got_explicit = ivf_search_local(
        packed, qpdf, k=10, nprobe=auto_nprobe(8)
    )
    pd.testing.assert_frame_equal(got_auto, got_explicit)


@pytest.mark.slow
def test_ivfpq_codes_table_is_compact(embeddings, tmp_path):
    """The codes table must carry only (id, list_id, codes[M]) — the
    at-rest representation that makes 100 TB feasible — and a
    partitioned save must prune probed reads to matching directories."""
    from fastpyvectordb_spark.ann.ivfpq import ivfpq_build

    index = ivfpq_build(
        embeddings, n_lists=4, m_subspaces=8, n_centroids=16, max_iter=2
    )
    assert set(index.codes.columns) == {"vec_id", "list_id", "codes"}
    row = index.codes.head()
    assert len(row["codes"]) == 8
    path = str(tmp_path / "ivfpq")
    index.save(path)
    import os

    parts = [p for p in os.listdir(path) if p.startswith("list_id=")]
    assert len(parts) == 4


@pytest.mark.slow
def test_ivfpq_local_matches_distributed(embeddings, spark):
    """Packed driver-local IVF-PQ ADC must reproduce the distributed
    per-list plan exactly (same probes, same float64 LUT accumulation
    order, same tie rule)."""
    import pandas as pd

    from fastpyvectordb_spark.ann.ivfpq import (
        ivfpq_build,
        ivfpq_pack,
        ivfpq_search_batch,
        ivfpq_search_local,
    )

    index = ivfpq_build(
        embeddings, n_lists=4, m_subspaces=8, n_centroids=16, max_iter=3
    )
    index.codes = index.codes.localCheckpoint()
    packed = ivfpq_pack(index)
    qrows = embeddings.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    qpdf = pd.DataFrame(
        {
            "query_id": [r["vec_id"] for r in qrows],
            "query_vec": [list(r["embedding"]) for r in qrows],
        }
    )
    want = (
        ivfpq_search_batch(index, qpdf, k=10, nprobe=2)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    got = (
        ivfpq_search_local(packed, qpdf, k=10, nprobe=2)
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert got["vec_id"].tolist() == want["vec_id"].tolist()
    assert np.allclose(got["dist"], want["dist"], atol=1e-9)


@pytest.mark.slow
def test_ivf_add_assigns_like_build(embeddings):
    """Incrementally added vectors get the same list assignment the
    builder's KMeans transform gives them (same centroids, argmin by
    (d², list_id)); existing assignments are untouched."""
    from fastpyvectordb_spark.ann.ivf import ivf_add

    index = ivf_build(embeddings, n_lists=8, max_iter=5)
    old = embeddings.filter(F.col("vec_id") < 400)
    new = embeddings.filter(F.col("vec_id") >= 400)
    partial = ivf_build(old, n_lists=8, max_iter=5)
    # rebuild partial's centroids to the FULL index's centroids so the
    # comparison isolates the assignment rule
    from fastpyvectordb_spark.ann.ivf import IVFIndex

    partial_on_full = IVFIndex(
        centroids=index.centroids,
        assigned=index.assigned.filter(F.col("vec_id") < 400),
    )
    grown = ivf_add(partial_on_full, new)
    got = {
        r["vec_id"]: r["list_id"]
        for r in grown.assigned.filter(F.col("vec_id") >= 400).collect()
    }
    want = {
        r["vec_id"]: r["list_id"]
        for r in index.assigned.filter(F.col("vec_id") >= 400).collect()
    }
    assert got == want
    assert grown.assigned.count() == embeddings.count()


@pytest.mark.slow
def test_serving_default_recall_equivalence(spark):
    """README §Serving: IVF is the serving default graded against the
    reference's hnswlib row. On the bench's own data distribution (the
    smooth sinusoidal manifold bench.py synthesizes) at a pruned probe
    width (4 of 16 lists — the bench's 8/64 gets the same recall from
    12× larger absolute candidate pools, gated there by
    ivf_batch_recall_at_k) the serving kernel must hit the exact top-k
    at least as well as the retired NSW graph family did on this
    fixture (recall 1.0 at ef=96): serving on IVF never trades recall
    away."""
    import pandas as pd

    from fastpyvectordb_spark.ann.ivf import ivf_build, ivf_pack, ivf_search_local

    n, dims, k = 8_000, 16, 10
    data = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dims - 1)),
                lambda d: (
                    F.sin(F.col("id") * 0.7 + d * 1.3 + F.col("id") * d * 0.0137)
                    + F.sin(F.col("id") * 91.7 + d * 47.111) * 0.1
                ).cast("float"),
            ).alias("embedding"),
        )
        .repartition(8)
        .localCheckpoint()
    )
    qrows = data.filter(F.col("vec_id") % 997 == 0).collect()
    qpdf = pd.DataFrame(
        {
            "query_id": [r["vec_id"] for r in qrows],
            "query_vec": [list(r["embedding"]) for r in qrows],
        }
    )
    exact = {r["vec_id"]: _exact(data, r["embedding"], k=k) for r in qrows}

    ivf = ivf_build(data, n_lists=16, max_iter=20)
    res = ivf_search_local(ivf_pack(ivf), qpdf, k=k, nprobe=4, metric="cosine")
    hits = 0
    for qid, want in exact.items():
        got = list(res.loc[res.query_id == qid].sort_values("rank")["vec_id"])
        hits += len(set(got) & set(want))
    recall = hits / (len(exact) * k)
    assert recall == 1.0, recall


@pytest.mark.slow
def test_ivf_search_batch_string_ids(spark):
    """The distributed batch kernel works on string-id tables (the
    collection id type), ranking by (dist, id) with the id column
    keeping its own type."""
    import random

    import pandas as pd

    from fastpyvectordb_spark.ann.ivf import ivf_build, ivf_search_batch

    rng = random.Random(5)
    rows = [
        (f"s{i:03d}", [rng.uniform(-1, 1) for _ in range(8)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    idx = ivf_build(df, n_lists=4, max_iter=5)
    qpdf = pd.DataFrame(
        {"query_id": [0, 1], "query_vec": [rows[3][1], rows[70][1]]}
    )
    out = ivf_search_batch(idx, qpdf, k=5, nprobe=4).toPandas()
    assert out.dtypes["vec_id"] == object
    top = out[(out.query_id == 0) & (out["rank"] == 1)]["vec_id"].iloc[0]
    assert top == "s003"
    top1 = out[(out.query_id == 1) & (out["rank"] == 1)]["vec_id"].iloc[0]
    assert top1 == "s070"
    assert len(out) == 10


@pytest.mark.slow
def test_gemm_and_ivfpq_batch_string_ids(spark):
    """knn_batch_gemm and ivfpq_search_batch on string-id tables: id
    column keeps its type, top-1 of a stored query is itself."""
    import random

    import pandas as pd

    from fastpyvectordb_spark.ann.ivfpq import ivfpq_build, ivfpq_search_batch
    from fastpyvectordb_spark.operators.knn import knn_batch_gemm

    rng = random.Random(7)
    rows = [
        (f"g{i:03d}", [rng.uniform(-1, 1) for _ in range(8)])
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    qpdf = pd.DataFrame({"query_id": [0], "query_vec": [rows[42][1]]})

    out = knn_batch_gemm(df, qpdf, k=3, metric="cosine").toPandas()
    assert out.dtypes["vec_id"] == object
    assert out[out["rank"] == 1]["vec_id"].iloc[0] == "g042"

    idx = ivfpq_build(df, n_lists=4, m_subspaces=4, max_iter=5)
    adc = ivfpq_search_batch(idx, qpdf, k=3, nprobe=4).toPandas()
    assert adc.dtypes["vec_id"] == object
    assert adc[adc["rank"] == 1]["vec_id"].iloc[0] == "g042"


@pytest.mark.slow
def test_suite_exhaustive_ann_queries_match_exact(spark):
    """VERDICT r6 #3: the driver-facing ann_* suite queries run each
    ANN operator at its exhaustive limit (nprobe = n_lists, all LSH
    buckets, full refine) — every one must reproduce the exact kNN
    result value-for-value, which is what lets them carry an exact-kNN
    DuckDB oracle in CORRECTNESS_r07."""
    from tests.conftest import SF_DIR

    from fastpyvectordb_spark.operators.knn import knn
    from fastpyvectordb_spark.suite import ann as suite_ann
    from fastpyvectordb_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).head()["embedding"]

    def rows(df):
        return [(r["vec_id"], r["dist"]) for r in df.collect()]

    exact_cos = rows(knn(emb, qvec, k=10, metric="cosine"))
    exact_l2 = rows(knn(emb, qvec, k=10, metric="l2"))
    for name, want in [
        ("ann_ivf_knn", exact_cos),
        ("ann_lsh_knn", exact_cos),
        ("ann_ivf_batch_knn", exact_cos),
        ("ann_ivf_local_knn", exact_cos),
        ("ann_ivfpq_knn", exact_l2),
    ]:
        got = rows(getattr(suite_ann, name)(spark, SF_DIR))
        assert got == want, f"{name} diverged from exact"


@pytest.mark.slow
def test_colocate_preserves_batch_results(embeddings, spark):
    """VERDICT r7 #4: colocate() (materialize the assigned/codes table
    hash-partitioned by list_id — the in-memory twin of save()'s
    at-rest layout) must not change a single row of the batch search:
    same ids, ranks, and distances, only the per-call exchange shape
    differs. Pins both the IVF and IVF-PQ variants."""
    from fastpyvectordb_spark.ann.ivf import ivf_search_batch
    from fastpyvectordb_spark.ann.ivfpq import ivfpq_build, ivfpq_search_batch

    qpdf = (
        embeddings.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .toPandas()
    )

    index = ivf_build(embeddings, n_lists=8, max_iter=5)
    before = (
        ivf_search_batch(index, qpdf, k=10, nprobe=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    index.colocate()
    after = (
        ivf_search_batch(index, qpdf, k=10, nprobe=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert (before["vec_id"].to_numpy() == after["vec_id"].to_numpy()).all()
    assert np.allclose(before["dist"], after["dist"])
    # colocated layout: every partition holds complete lists
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    assert index.assigned.rdd.getNumPartitions() == nparts

    pq = ivfpq_build(embeddings, n_lists=8, m_subspaces=8, n_centroids=16,
                     max_iter=5)
    pq_before = (
        ivfpq_search_batch(pq, qpdf, k=10, nprobe=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    pq.colocate()
    pq_after = (
        ivfpq_search_batch(pq, qpdf, k=10, nprobe=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert (
        pq_before["vec_id"].to_numpy() == pq_after["vec_id"].to_numpy()
    ).all()
    assert np.allclose(pq_before["dist"], pq_after["dist"])


@pytest.mark.slow
def test_ivfpq_256_centroids_local_distributed_parity(embeddings):
    """8-bit codebooks (n_centroids=256, the uint8 boundary) through
    build → distributed ADC → pack → local ADC: codes must stay in
    [0, 256) end-to-end, and the decomposed-LUT kernels (round 9) must
    keep the local twin bit-identical to the distributed plan."""
    from fastpyvectordb_spark.ann.ivfpq import (
        ivfpq_build, ivfpq_pack, ivfpq_search_batch, ivfpq_search_local,
    )

    pq = ivfpq_build(embeddings, n_lists=4, m_subspaces=8, n_centroids=256,
                     max_iter=5)
    assert pq.codebooks.shape[1] == 256
    qpdf = (
        embeddings.filter(F.col("vec_id") < 6)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .toPandas()
    )
    dist = (
        ivfpq_search_batch(pq, qpdf, k=10, nprobe=2)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    packed = ivfpq_pack(pq)
    assert packed.codes.dtype == np.uint8
    loc = (
        ivfpq_search_local(packed, qpdf, k=10, nprobe=2)
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert (dist["vec_id"].to_numpy() == loc["vec_id"].to_numpy()).all()
    assert (dist["dist"].to_numpy() == loc["dist"].to_numpy()).all()


def test_colocate_partitions_auto_conf_fallback(embeddings, spark, monkeypatch):
    """ADVICE r8: on AQE-managed deployments spark.sql.shuffle.partitions
    can be the non-numeric string "auto" — colocate()'s partition-count
    default must fall back to the input's current partition count
    instead of raising ValueError on int("auto")."""
    from fastpyvectordb_spark.ann.ivf import default_colocate_partitions

    conf = spark.conf
    orig_get = conf.get

    def fake_get(key, default=None):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return orig_get(key, default)

    monkeypatch.setattr(conf, "get", fake_get)
    assert spark.conf.get("spark.sql.shuffle.partitions", "32") == "auto"
    n = default_colocate_partitions(embeddings)
    assert n == max(1, embeddings.rdd.getNumPartitions())


@pytest.mark.slow
def test_ivfpq_batch_prunes_unprobed_lists(embeddings):
    """The IVF-PQ batch plan must filter codes to the probed lists
    BEFORE the groupBy shuffle (parity with ivf_search_batch): at
    nprobe=1 with 8 lists the scan feeding the shuffle carries an
    isin/IN filter on list_id."""
    from fastpyvectordb_spark.ann.ivfpq import ivfpq_build, ivfpq_search_batch

    pq = ivfpq_build(embeddings, n_lists=8, m_subspaces=8, n_centroids=16,
                     max_iter=5)
    qpdf = (
        embeddings.filter(F.col("vec_id") < 2)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .toPandas()
    )
    import re

    plan = (
        ivfpq_search_batch(pq, qpdf, k=5, nprobe=1)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # the pruning predicate compares list_id to literal probe ids —
    # Catalyst renders a 1-element isin as equality, wider ones as IN
    assert re.search(r"list_id#\d+ (=|IN) ?\(?\d", plan), plan[:1500]


def test_opq_trainer_properties():
    """OPQ trainer pins (round 10, no Spark needed): the learned
    rotation is orthonormal, the rotated-space codebooks reconstruct
    an ANISOTROPIC sample strictly better than subspace-aligned PQ
    (the case OPQ exists for: energy concentrated in a few directions
    that a fixed subspace split cannot isolate), and the trainer is
    deterministic in its seed."""
    import numpy as np

    from fastpyvectordb_spark.ann.ivfpq import _train_opq
    from fastpyvectordb_spark.ann.kmeans import _kmeanspp, assign

    rng = np.random.RandomState(3)
    n, dims, m, kc = 4000, 16, 4, 16
    # anisotropic: strong energy on a few rotated directions
    basis, _ = np.linalg.qr(rng.randn(dims, dims))
    scales = np.array([8.0, 5.0, 3.0, 2.0] + [0.3] * (dims - 4))
    x = (rng.randn(n, dims) * scales) @ basis.T

    rot, cbs = _train_opq(x, m, kc, seed=11, opq_iters=6)
    assert np.allclose(rot @ rot.T, np.eye(dims), atol=1e-9)

    def recon_err(sample, rotation, codebooks):
        xr = sample if rotation is None else sample @ rotation.T
        x3 = xr.reshape(len(xr), m, dims // m).transpose(1, 0, 2)
        codes = assign(np.ascontiguousarray(x3, dtype=np.float32), codebooks)
        dec = np.concatenate(
            [codebooks[j][codes[j]] for j in range(m)], axis=1
        )
        return ((xr - dec) ** 2).sum()

    # plain PQ baseline: same trainer with 0 rotation iterations
    rot0, cbs0 = _train_opq(x, m, kc, seed=11, opq_iters=0)
    assert np.allclose(rot0, np.eye(dims))
    assert recon_err(x, rot, cbs) < 0.9 * recon_err(x, None, cbs0)

    rot2, cbs2 = _train_opq(x, m, kc, seed=11, opq_iters=6)
    assert np.array_equal(rot, rot2) and np.array_equal(cbs, cbs2)

    # ++ seeding handles fewer distinct points than centroids
    tiny = np.repeat(rng.randn(3, 4), 2, axis=0)
    cents = _kmeanspp(tiny, 8, np.random.RandomState(0))
    assert cents.shape == (8, 4) and np.isfinite(cents).all()


def test_ivfpq_packed_codes_gb_matches_direct():
    """The pack-time gB cache must equal the per-list gather the
    distributed kernel computes (same helper, same f32 order)."""
    import numpy as np

    from fastpyvectordb_spark.ann.ivfpq import (
        IVFPQPacked,
        _code_offsets,
        _gather_b_f32,
        _list_lut_const,
    )

    rng = np.random.RandomState(7)
    n_lists, m, kc, sub = 3, 4, 8, 2
    packed = IVFPQPacked(
        centroids=rng.randn(n_lists, m * sub),
        codebooks=rng.randn(m, kc, sub),
        codes=rng.randint(0, kc, size=(30, m)).astype(np.uint8),
        ids=np.arange(30, dtype=np.int64),
        offsets=np.array([0, 10, 22, 30]),
        rotation=None,
    )
    g = packed.codes_gb
    c_all = _list_lut_const(packed.centroids, packed.codebooks)
    for lid, (s, e) in enumerate(((0, 10), (10, 22), (22, 30))):
        cf = packed.codes[s:e].astype(np.intp) + _code_offsets(m, kc)
        assert np.array_equal(g[s:e], _gather_b_f32(cf, c_all[lid]))


def test_pq_assign_matches_naive_reference():
    """Bit-identity pin for the round-11 assign traffic fold: the −2
    scale folded into the f32 codebook operand and the one-pass f32
    sample transpose must produce EXACTLY the codes of the naive
    per-subspace formulation (power-of-two scaling is exact in IEEE
    and commutes with the GEMM's rounding; the element-wise f64→f32
    conversion is slice-order-independent)."""
    import numpy as np

    from fastpyvectordb_spark.ann.kmeans import assign

    rng = np.random.RandomState(5)
    n, m_sub, sub, kc = 20_000, 16, 4, 256
    x3 = rng.randn(n, m_sub, sub) * 0.3
    cbs = rng.randn(m_sub, kc, sub)

    ref = np.empty((n, m_sub), dtype=np.int64)
    chunk = 8192
    buf = np.empty((min(chunk, n), kc), dtype=np.float32)
    for m in range(m_sub):
        cb_t = np.ascontiguousarray(cbs[m].T, dtype=np.float32)
        cb_n2 = (cbs[m] ** 2).sum(1).astype(np.float32)
        xm = np.ascontiguousarray(x3[:, m], dtype=np.float32)
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            b = buf[: e - s]
            np.dot(xm[s:e], cb_t, out=b)
            b *= -2.0
            b += cb_n2[None, :]
            ref[s:e, m] = b.argmin(1)

    xT = np.ascontiguousarray(x3.transpose(1, 0, 2), dtype=np.float32)
    assert np.array_equal(assign(xT, cbs).T, ref)


def test_coarse_gemm_pooled_chunks_match_serial_lloyd(monkeypatch):
    """The large-k coarse trainer assigns its GEMM chunks on the shared
    pool; chunks write disjoint code slices with the serial loop's
    GEMM shapes, so centroids are bit-identical to the serial Lloyd."""
    from fastpyvectordb_spark.ann import kmeans

    monkeypatch.setattr(kmeans, "_KMEANS_PARALLEL_MAX_WORK", 1)

    rng = np.random.RandomState(11)
    n, d, k, iters, seed = 12_000, 8, 4000, 3, 3
    sample = rng.randn(n, d)

    # serial reference: the same Lloyd with a plain chunk loop
    r = np.random.RandomState(seed)
    cents = sample[r.choice(n, size=k, replace=False)].astype(np.float64)
    x32 = np.ascontiguousarray(sample, dtype=np.float32)
    chunk = kmeans._SCORE_BUDGET // k
    assert n > 2 * chunk  # several chunks, so the pool has work to split
    codes = np.empty(n, dtype=np.int64)
    for _ in range(iters):
        c32 = cents.astype(np.float32)
        csq = np.einsum("ij,ij->i", c32, c32)
        for s in range(0, n, chunk):
            sc = x32[s:s + chunk] @ c32.T
            sc *= -2.0
            sc += csq[None, :]
            codes[s:s + chunk] = np.argmin(sc, axis=1)
        cnt = np.bincount(codes, minlength=k)
        acc = np.stack(
            [np.bincount(codes, weights=sample[:, j], minlength=k)
             for j in range(d)],
            axis=1,
        )
        nz = cnt > 0
        cents[nz] = acc[nz] / cnt[nz][:, None]

    got = kmeans.train(sample, k, iters, seed)
    assert np.array_equal(got, cents)


def test_ivf_list_scan_pooled_matches_serial(monkeypatch):
    """The batched IVF scan pools its per-list GEMMs when BLAS runs one
    thread (here with the list-size floor lifted) and stays serial
    otherwise; per-list math is schedule-independent, so both regimes
    return identical frames."""
    import pandas as pd

    from fastpyvectordb_spark import session
    from fastpyvectordb_spark.ann import ivf
    from fastpyvectordb_spark.ann.ivf import IVFPacked, ivf_search_local

    monkeypatch.setattr(ivf, "_POOL_LIST_MIN_WORK", 0)

    rng = np.random.RandomState(3)
    n, d, n_lists = 3000, 16, 16
    centroids = rng.randn(n_lists, d)
    lists = np.sort(rng.randint(0, n_lists, size=n))
    vmat = (centroids[lists] + 0.3 * rng.randn(n, d)).astype(np.float32)
    sqnorms = np.einsum("ij,ij->i", vmat, vmat)
    packed = IVFPacked(
        centroids=centroids,
        vmat=vmat,
        ids=rng.permutation(n).astype(np.int64),
        offsets=np.searchsorted(lists, np.arange(n_lists + 1)),
        norms=np.sqrt(sqnorms).astype(np.float32) + np.float32(1e-10),
        sqnorms=sqnorms.astype(np.float32),
    )
    qpdf = pd.DataFrame(
        {
            "query_id": np.arange(64),
            "query_vec": list(rng.randn(64, d).astype(np.float32)),
        }
    )
    for metric in ("cosine", "l2", "ip"):
        out = {}
        for threads in (4, 1):  # 4 → serial loop, 1 → pooled lists
            monkeypatch.setattr(session, "blas_threads", lambda t=threads: t)
            out[threads] = ivf_search_local(
                packed, qpdf, k=10, nprobe=4, metric=metric
            )
        pd.testing.assert_frame_equal(out[4], out[1])
