"""Edge-case pins: the failure modes the reference handles explicitly
(H4 no-text fallback, k > N clamp, empty inputs, dim mismatch)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fastpyvectordb_spark.operators.knn import knn
from fastpyvectordb_spark.tables import load_table
from tests.conftest import SF_DIR


def test_hybrid_no_text_falls_back_to_vector(spark):
    """H4 (hybrid_search.py:397-411): no query_text ⇒ pure vector
    ranking with keyword_score 0."""
    from fastpyvectordb_spark.operators.fusion import hybrid_search

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    qvec = corpus.head()["embedding"]
    rows = hybrid_search(corpus, qvec, None, k=5).collect()
    assert len(rows) == 5
    assert all(r["keyword_score"] == 0.0 for r in rows)
    vec_only = knn(
        corpus, qvec, k=5, metric="cosine", id_col="doc_id"
    ).collect()
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in vec_only]


def test_knn_k_larger_than_n(spark):
    """k > N returns all N rows (ref clamps fetch_k to N,
    vectordb_optimized.py:531-532)."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(7)
    qvec = emb.head()["embedding"]
    assert knn(emb, qvec, k=100).count() == 7


def test_knn_empty_table(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    empty = emb.filter(F.lit(False))
    qvec = emb.head()["embedding"]
    assert knn(empty, qvec, k=5).count() == 0


def test_bm25_unknown_terms(spark):
    """A query of out-of-vocabulary terms matches no candidate docs
    (T5: candidates = docs containing ≥1 term)."""
    from fastpyvectordb_spark.operators.bm25 import BM25Index

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    idx = BM25Index.build(docs.select("doc_id", "text"))
    assert idx.search("zzzqqqxyzzy frobnicate", k=5).count() == 0


def test_collection_dim_mismatch(spark, tmp_path):
    from fastpyvectordb_spark.catalog import VectorDB

    db = VectorDB(spark, str(tmp_path / "db"))
    c = db.create_collection("c", dimensions=4)
    with pytest.raises(ValueError, match="dimension"):
        c.search([1.0, 2.0], k=3)
    with pytest.raises(ValueError, match="dimension"):
        c.search_batch([[1.0, 2.0, 3.0, 4.0], [1.0]], k=3)


def test_sq_constant_dimension(spark):
    """A constant dim has range 0 → scale falls back to 1.0 (Q1 zero
    guard, quantization.py:103-105) and encode yields code 0."""
    from fastpyvectordb_spark.operators import quantization as Q

    df = spark.createDataFrame(
        [(i, [1.5, float(i)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    stats = {r["dim"]: r for r in Q.sq_train(df).collect()}
    assert stats[0]["scale"] == 1.0
    mins = [stats[d]["vmin"] for d in (0, 1)]
    scales = [stats[d]["scale"] for d in (0, 1)]
    row = df.select(
        Q.sq_encode_expr(F.col("embedding"), mins, scales).alias("codes")
    ).head()
    assert row["codes"][0] == 0


def test_scrub_pii_masks_entities(spark):
    from fastpyvectordb_spark.operators.textanalysis import scrub_pii_expr

    df = spark.createDataFrame(
        [
            ("mail me at jo.doe+x@corp.example.com today",),
            ("docs: https://example.com/a?b=1 end",),
            ("call +1 (415) 555-0199 now",),
            ("clean text stays clean",),
        ],
        "text string",
    )
    got = [r["s"] for r in df.select(scrub_pii_expr(F.col("text")).alias("s")).collect()]
    assert got[0] == "mail me at <EMAIL> today"
    assert got[1] == "docs: <URL> end"
    assert got[2] == "call <PHONE> now"
    assert got[3] == "clean text stays clean"


def test_degrees_validates_direction_and_supports_both(spark):
    import pytest as _pytest

    from fastpyvectordb_spark.operators.graph import degrees

    edges = spark.createDataFrame(
        [("e1", "a", "b", "T"), ("e2", "a", "c", "T"), ("e3", "b", "a", "T")],
        "id string, src string, dst string, type string",
    )
    both = {r["node_id"]: r["degree"] for r in degrees(edges, "both").collect()}
    assert both == {"a": 3, "b": 2, "c": 1}
    with _pytest.raises(ValueError, match="direction"):
        degrees(edges, "int")  # typo silently meant out-degree before


def test_traverse_zero_depth_returns_empty_dataframe(spark):
    from fastpyvectordb_spark.operators.graph import traverse

    edges = spark.createDataFrame(
        [("e1", "a", "b", "T")], "id string, src string, dst string, type string"
    )
    out = traverse(edges, ["a"], max_depth=0)
    assert out.count() == 0  # None would AttributeError on .count()
    assert set(out.columns) == {"start_id", "end_id", "depth", "path"}


def test_exact_search_packed_empty_index(spark):
    import numpy as np

    from fastpyvectordb_spark.ann.ivf import IVFPacked
    from fastpyvectordb_spark.operators.knn import exact_scan

    packed = IVFPacked(
        centroids=np.zeros((1, 4)),
        vmat=np.empty((0, 4), dtype=np.float32),
        ids=np.empty((0,), dtype=np.int64),
        offsets=np.array([0, 0]),
        sqnorms=np.empty((0,), dtype=np.float32),
        norms=np.empty((0,), dtype=np.float32),
    )
    ids, dists = exact_scan(
        packed.vmat, packed.ids, packed.norms, packed.sqnorms,
        [1.0, 0.0, 0.0, 0.0], 5, "cosine",
    )
    assert len(ids) == 0 and len(dists) == 0
