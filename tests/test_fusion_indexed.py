"""Hybrid fusion over a prebuilt BM25 index (the reference engine's
resident-index lifecycle, hybrid_search.py:60-69) must score exactly
like the one-shot pipeline when the index was built on the same corpus,
and the packed exact scan must match the declarative knn operator."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastpyvectordb_spark.tables import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def corpus(spark):
    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select("doc_id", "text", "embedding")
        .cache()
    )


@pytest.mark.slow
def test_hybrid_indexed_equals_oneshot(spark, corpus):
    from fastpyvectordb_spark.operators.bm25 import BM25Index
    from fastpyvectordb_spark.operators.fusion import hybrid_search

    qvec = corpus.filter(F.col("doc_id") == 0).head()["embedding"]
    idx = BM25Index.build(corpus)
    for qtext in ("data pipeline quality", "vector index search"):
        want = hybrid_search(corpus, qvec, qtext, k=10).collect()
        got = hybrid_search(corpus, qvec, qtext, k=10, bm25_index=idx).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_exact_search_packed_matches_knn(spark, corpus, tmp_path, monkeypatch):
    """Every packed kernel equals the distributed ``knn`` exactly — ids,
    order and ROUND 6 distances — for every metric, on a table where
    the queries' nearest rows each have a duplicate under a larger id
    (distance ties the (dist, id) order must break): the one exact
    scan with either over-select cut, ``Collection.search_local``
    (against ``Collection.search``, the same operator over string ids),
    and the IVF kernels ``ivf_search_local_one`` and
    ``ivf_search_local`` probing every list (their l2 distances stay
    float32, see below)."""
    import pandas as pd

    from fastpyvectordb_spark.ann.ivf import (
        ivf_build,
        ivf_pack,
        ivf_search_local,
        ivf_search_local_one,
    )
    from fastpyvectordb_spark.catalog import VectorDB
    from fastpyvectordb_spark.operators import knn as knn_mod
    from fastpyvectordb_spark.operators.knn import exact_scan, knn

    base = corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
    qvecs = [
        base.filter(F.col("vec_id") == i).head()["embedding"] for i in (7, 3)
    ]
    near = {
        r["vec_id"]
        for q in qvecs
        for m in ("cosine", "l2", "ip")
        for r in knn(base, q, k=10, metric=m).collect()
    }
    emb = base.unionByName(
        base.filter(F.col("vec_id").isin(sorted(near))).withColumn(
            "vec_id", F.col("vec_id") + 1_000_000
        )
    ).cache()
    n_lists = 4
    packed = ivf_pack(ivf_build(emb, n_lists=n_lists, max_iter=2))
    qpdf = pd.DataFrame({"query_id": [0, 1], "query_vec": qvecs})
    db = VectorDB(spark, str(tmp_path / "vdb"))
    for metric in ("cosine", "l2", "ip"):
        batch = ivf_search_local(
            packed, qpdf, k=10, nprobe=n_lists, metric=metric
        )
        for qi, qvec in enumerate(qvecs):
            want = [
                (r["vec_id"], r["dist"])
                for r in knn(emb, qvec, k=10, metric=metric).collect()
            ]
            assert len({d for _, d in want}) < len(want), "no tie in top-10"
            for min_rows in (1 << 30, 0):  # argpartition, sampled cut
                monkeypatch.setattr(knn_mod, "_SAMPLED_CUT_MIN_ROWS", min_rows)
                ids, dists = exact_scan(
                    packed.vmat, packed.ids, packed.norms, packed.sqnorms,
                    qvec, 10, metric,
                )
                got = list(zip(ids.tolist(), dists.tolist()))
                assert got == want, (metric, min_rows)
            monkeypatch.undo()
            ids, dists = ivf_search_local_one(
                packed, qvec, k=10, nprobe=n_lists, metric=metric
            )
            b = batch[batch["query_id"] == qi].sort_values("rank")
            for name, got_ids, got_d in (
                ("one", ids, dists),
                ("batch", b["vec_id"].to_numpy(), b["dist"].to_numpy()),
            ):
                assert got_ids.tolist() == [i for i, _ in want], (metric, name)
                # the IVF kernels keep float32 l2 (no float64 recompute):
                # off by up to ~1e-6 from the exact expression
                tol = 2e-6 if metric == "l2" else 0.0
                assert np.allclose(
                    np.round(got_d, 6), [d for _, d in want], rtol=0, atol=tol
                ), (metric, name)

        c = db.create_collection(f"c_{metric}", dimensions=len(qvecs[0]),
                                 metric=metric)
        c.insert_batch(
            emb.select(F.col("vec_id").cast("string").alias("id"),
                       "embedding")
        )
        for qvec in qvecs:
            want = [
                (r["id"], r["dist"])
                for r in c.search(qvec, k=10).collect()
            ]
            assert c.search_local(qvec, k=10) == want, (metric, "local")


@pytest.mark.slow
def test_hybrid_batch_equals_per_query(spark, corpus):
    """One-job batched hybrid fusion must reproduce, per query, exactly
    what the single-query operator returns (which is itself
    oracle-gated via the hybrid_search_alpha* suite queries)."""
    import pandas as pd

    from fastpyvectordb_spark.operators.bm25 import BM25Index
    from fastpyvectordb_spark.operators.fusion import (
        hybrid_search,
        hybrid_search_batch,
    )

    idx = BM25Index.build(corpus)
    rows = corpus.filter(F.col("doc_id") < 3).select("doc_id", "embedding").collect()
    texts = ["data pipeline quality", "vector index search", "graph traversal"]
    qpdf = pd.DataFrame(
        {
            "query_id": [r["doc_id"] for r in rows],
            "query_vec": [list(r["embedding"]) for r in rows],
            "query_text": texts,
        }
    )
    got = hybrid_search_batch(corpus, qpdf, k=10, bm25_index=idx).toPandas()
    for r, text in zip(rows, texts):
        want = hybrid_search(
            corpus, r["embedding"], text, k=10, bm25_index=idx
        ).toPandas()
        sub = (
            got[got["query_id"] == r["doc_id"]]
            .sort_values("rank")
            .reset_index(drop=True)
        )
        assert sub["rank"].tolist() == list(range(1, len(want) + 1))
        assert sub["doc_id"].tolist() == want["doc_id"].tolist()
        for c in ("score", "vector_score", "keyword_score"):
            assert (sub[c].to_numpy() == want[c].to_numpy()).all(), c


@pytest.mark.slow
def test_bm25_packed_matches_distributed(spark, corpus):
    """The driver-local packed BM25 searcher must reproduce
    BM25Index.search / search_batch exactly (values and tie order)."""
    from fastpyvectordb_spark.operators.bm25 import BM25Index

    idx = BM25Index.build(corpus)
    packed = idx.pack()
    queries = [
        "data pipeline quality",
        "vector index search",
        "graph traversal nodes",
        "zzz_no_such_term",
    ]
    for q in queries:
        want = [(r["doc_id"], r["score"]) for r in idx.search(q, k=10).collect()]
        got = packed.search(q, k=10)
        assert got == want, q
    bt = packed.search_batch(queries, k=10)
    wt = idx.search_batch(queries, k=10).toPandas()
    assert bt["query_id"].tolist() == wt["query_id"].tolist()
    assert bt["doc_id"].tolist() == wt["doc_id"].tolist()
    assert (bt["score"].to_numpy() == wt["score"].to_numpy()).all()


@pytest.mark.slow
def test_hybrid_local_matches_distributed(spark, corpus):
    """Packed-local hybrid fusion == the oracle-gated distributed plan."""
    from fastpyvectordb_spark.ann.ivf import ivf_build, ivf_pack
    from fastpyvectordb_spark.operators.bm25 import BM25Index
    from fastpyvectordb_spark.operators.fusion import (
        hybrid_search,
        hybrid_search_local,
    )

    emb = corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
    vec_packed = ivf_pack(ivf_build(emb, n_lists=4, max_iter=2))
    idx = BM25Index.build(corpus)
    kw_packed = idx.pack()
    qvec = corpus.filter(F.col("doc_id") == 0).head()["embedding"]
    for qtext, alpha in [
        ("data pipeline quality", 0.5),
        ("vector index search", 0.8),
        (None, 0.5),
    ]:
        want = [
            tuple(r)
            for r in hybrid_search(
                corpus, qvec, qtext, k=10, alpha=alpha, bm25_index=idx
            ).collect()
        ]
        got = hybrid_search_local(
            vec_packed, kw_packed, qvec, qtext, k=10, alpha=alpha
        )
        assert [g[0] for g in got] == [w[0] for w in want], qtext
        for g, w in zip(got, want):
            assert g[1:] == pytest.approx(w[1:], abs=2e-6), (qtext, g, w)


def test_exact_batch_local_matches_gemm(spark, corpus):
    """``knn_batch_auto``'s driver-local arm (the one exact batch scan)
    must reproduce the distributed ``knn_batch_gemm`` plan."""
    import pandas as pd

    from fastpyvectordb_spark.operators.knn import (
        knn_batch_auto,
        knn_batch_gemm,
    )

    emb = corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
    rows = emb.filter(F.col("vec_id") < 6).orderBy("vec_id").collect()
    qpdf = pd.DataFrame(
        {
            "query_id": [r["vec_id"] for r in rows],
            "query_vec": [list(r["embedding"]) for r in rows],
        }
    )
    for metric in ("cosine", "l2", "ip"):
        got = knn_batch_auto(emb, qpdf, k=10, metric=metric)
        want = knn_batch_gemm(emb, qpdf, k=10, metric=metric).toPandas()
        g = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
        w = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
        assert g["vec_id"].tolist() == w["vec_id"].tolist(), metric
        assert np.allclose(g["dist"], w["dist"], atol=1e-6), metric


@pytest.mark.slow
def test_hybrid_weight_aliases(spark, corpus):
    """H3 (hybrid_search.py:392-395): vector_weight/keyword_weight
    override alpha as vw/(vw+kw)."""
    from fastpyvectordb_spark.operators.fusion import hybrid_search

    qvec = corpus.filter(F.col("doc_id") == 0).head()["embedding"]
    qtext = "data pipeline quality"
    want = hybrid_search(corpus, qvec, qtext, k=5, alpha=0.8).collect()
    got = hybrid_search(
        corpus, qvec, qtext, k=5, alpha=0.123,
        vector_weight=4.0, keyword_weight=1.0,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
