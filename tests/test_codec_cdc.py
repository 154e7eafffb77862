"""Storage codec round-trips (S7) + collection change-feed (R5/D7)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastpyvectordb_spark.catalog import VectorDB
from fastpyvectordb_spark.operators.codec import (
    fp16_decode,
    fp16_encode,
    int8_decode,
    int8_encode,
    memory_usage,
)


def test_int8_roundtrip_error(embeddings):
    enc = int8_encode(embeddings.limit(50))
    dec = enc.select(
        "vec_id",
        "embedding",
        int8_decode(F.col("codes"), F.col("scale")).alias("back"),
    ).collect()
    for r in dec:
        orig = np.array(r["embedding"], dtype=np.float64)
        back = np.array(r["back"], dtype=np.float64)
        scale = np.abs(orig).max() / 127.0
        assert np.max(np.abs(orig - back)) <= scale / 2 + 1e-9


def test_fp16_roundtrip_error(embeddings):
    out = embeddings.limit(50).select(
        "embedding", fp16_decode(fp16_encode(F.col("embedding"))).alias("back")
    ).collect()
    for r in out:
        orig = np.array(r["embedding"], dtype=np.float64)
        back = np.array(r["back"], dtype=np.float64)
        assert np.max(np.abs(orig - back)) <= 1.0 / (1 << 11) + 1e-9


def test_memory_accounting():
    m = memory_usage(100_000, 128, "sq8")
    assert 3.5 < m["compression_ratio"] < 4.1  # reference: SQ ~4x
    b = memory_usage(100_000, 128, "bq")
    assert b["compression_ratio"] > 25  # reference: BQ ~32x
    with pytest.raises(ValueError):
        memory_usage(10, 8, "zip")


def test_collection_change_feed(spark, tmp_path):
    db = VectorDB(spark, str(tmp_path / "cdb"))
    c = db.create_collection("obs", dimensions=4)
    batch = spark.createDataFrame(
        [(f"x{i}", [float(i)] * 4, "A") for i in range(5)],
        "id string, embedding array<float>, category string",
    )
    c.insert_batch(batch)
    c.delete(ids=["x1"])
    c.update(["x2"], metadata={"category": "B"})
    ev = c.events_df().collect()
    types = sorted((r["event_type"], r["doc_id"]) for r in ev)
    assert ("batch_insert", "x0") in types
    assert ("delete", "x1") in types
    assert ("update", "x2") in types
    assert len([t for t, _ in types if t == "batch_insert"]) == 5
    # the updated row reflects the metadata merge
    assert c.get(["x2"]).head()["category"] == "B"


def test_change_feed_streams(spark, tmp_path):
    db = VectorDB(spark, str(tmp_path / "sdb"))
    c = db.create_collection("obs2", dimensions=4)
    c.insert_batch(
        spark.createDataFrame(
            [("a", [1.0] * 4)], "id string, embedding array<float>"
        )
    )
    q = (
        c.events_stream()
        .writeStream.format("memory")
        .queryName("cdc_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.table("cdc_stream").collect()
    assert len(rows) == 1 and rows[0]["event_type"] == "insert"


def test_change_feed_integer_ids(spark, tmp_path):
    """Every event writer stores ``doc_id`` as a string: an integer-id
    collection whose events come from both the Spark writer (first
    upsert) and the pyarrow stager (small insert) must read back as one
    schema, batch and streaming."""
    db = VectorDB(spark, str(tmp_path / "idb"))
    c = db.create_collection("ints", dimensions=4)
    schema = "id long, embedding array<float>"
    c.upsert(spark.createDataFrame([(1, [1.0] * 4), (2, [2.0] * 4)], schema))
    c.insert_batch(spark.createDataFrame([(3, [3.0] * 4)], schema))
    ev = c.events_df()
    assert dict(ev.dtypes)["doc_id"] == "string"
    assert sorted(r["doc_id"] for r in ev.collect()) == ["1", "2", "3"]
    q = (
        c.events_stream()
        .writeStream.format("memory")
        .queryName("cdc_int_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.table("cdc_int_stream").collect()
    assert sorted(r["doc_id"] for r in rows) == ["1", "2", "3"]
