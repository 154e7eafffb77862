"""Collection/VectorDB CRUD semantics (ref vectordb_optimized.py:
dup-id rejection, dim validation, upsert, delete-by-filter,
persistence round-trip across instances)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fastpyvectordb_spark.catalog import VectorDB
from fastpyvectordb_spark.embeddings import embed_column, mock_embed_batch


@pytest.fixture()
def db(spark, tmp_path):
    return VectorDB(spark, str(tmp_path / "vdb"))


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id string, embedding array<float>, category string"
    )


def _vecs(n, d=4, offset=0):
    return [
        (f"v{i}", [float(i + offset)] * d, "A" if i % 2 == 0 else "B")
        for i in range(n)
    ]


def test_create_insert_count_get(spark, db):
    c = db.create_collection("col1", dimensions=4)
    assert c.insert_batch(_batch(spark, _vecs(10))) == 10
    assert c.count() == 10
    got = c.get(["v1", "v2"], include_vector=False).collect()
    assert {r["id"] for r in got} == {"v1", "v2"}
    assert "embedding" not in got[0].asDict()


@pytest.mark.slow
def test_duplicate_id_rejected(spark, db):
    c = db.create_collection("col2", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(3)))
    with pytest.raises(ValueError, match="duplicate id"):
        c.insert_batch(_batch(spark, _vecs(1)))


def test_dimension_validation(spark, db):
    c = db.create_collection("col3", dimensions=8)
    with pytest.raises(ValueError, match="dimension mismatch"):
        c.insert_batch(_batch(spark, _vecs(2, d=4)))
    with pytest.raises(ValueError, match="query dimension"):
        c.search([1.0] * 4)


@pytest.mark.slow
def test_upsert_and_delete(spark, db):
    c = db.create_collection("col4", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(5)))
    c.upsert(_batch(spark, _vecs(2, offset=100)))  # overwrite v0, v1
    assert c.count() == 5
    v0 = c.get(["v0"]).head()
    assert v0["embedding"][0] == 100.0
    c.delete(ids=["v0"])
    assert c.count() == 4
    c.delete(where={"category": "B"})
    assert c.count() == 2  # v2, v4 remain (A, minus deleted v0)


def test_search_with_filter(spark, db):
    # l2: the [i,i,i,i] fixture vectors are all parallel, so cosine
    # would tie at distance 0 across the board
    c = db.create_collection("col5", dimensions=4, metric="l2")
    c.insert_batch(_batch(spark, _vecs(20)))
    res = c.search([5.0] * 4, k=3, where={"category": "B"}).collect()
    assert len(res) == 3
    assert res[0]["id"] == "v5"  # exact match, category B (odd)


def test_persistence_across_instances(spark, db, tmp_path):
    c = db.create_collection("col6", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(7)))
    db2 = VectorDB(spark, str(tmp_path / "vdb"))
    assert db2.list_collections() == ["col6"]
    c2 = db2.get_collection("col6")
    assert c2.count() == 7
    assert c2.config.dimensions == 4


def test_list_ids_pagination(spark, db):
    c = db.create_collection("col7", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(15)))
    page1 = c.list_ids(limit=5, offset=0)
    page2 = c.list_ids(limit=5, offset=5)
    assert len(page1) == 5 and len(page2) == 5
    assert set(page1).isdisjoint(page2)


def test_mock_embedder_deterministic(spark):
    import hashlib

    import numpy as np

    s = mock_embed_batch(__import__("pandas").Series(["hello", "hello", "world"]), 16)
    assert s[0] == s[1] != s[2]
    # matches the reference algorithm exactly
    seed = int(hashlib.sha256(b"hello").hexdigest()[:8], 16)
    want = np.random.RandomState(seed).randn(16).astype(np.float32)
    want = want / np.linalg.norm(want)
    assert np.allclose(s[0], want)


def test_embed_column_pipeline(spark):
    df = spark.createDataFrame([("a", "hello"), ("b", "world")], "id string, text string")
    out = embed_column(df, "text", dimensions=16).collect()
    assert all(len(r["embedding"]) == 16 for r in out)
    norms = [sum(x * x for x in r["embedding"]) for r in out]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)


def test_time_travel_and_restore(spark, tmp_path):
    """Every commit is an immutable snapshot: df(version) reads any
    point in history, restore() flips the pointer back (Delta
    VERSION AS OF / RESTORE semantics on plain parquet)."""
    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(spark, str(tmp_path / "tt"), CollectionConfig(dimensions=2))
    c.insert_batch(
        spark.createDataFrame(
            [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "id string, embedding array<float>"
        )
    )
    v1 = c.history()[-1]["version"]
    c.delete(ids=["b"])
    hist = c.history()
    assert len(hist) >= 2
    assert {h["version"] for h in hist} >= {v1}
    assert sorted(r["id"] for r in c.df().collect()) == ["a"]
    assert sorted(r["id"] for r in c.df(version=v1).collect()) == ["a", "b"]
    c.restore(v1)
    assert sorted(r["id"] for r in c.df().collect()) == ["a", "b"]
    assert c.history()[-1]["op"] == "restore"


def test_vacuum_drops_old_snapshots(spark, tmp_path):
    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(spark, str(tmp_path / "vac"), CollectionConfig(dimensions=2))
    c.insert_batch(
        spark.createDataFrame([("a", [1.0, 0.0])], "id string, embedding array<float>")
    )
    v1 = c.history()[-1]["version"]
    c.insert_batch(
        spark.createDataFrame([("b", [0.0, 1.0])], "id string, embedding array<float>")
    )
    removed = c.vacuum(keep_last=1)
    assert removed == [v1]
    assert sorted(r["id"] for r in c.df().collect()) == ["a", "b"]
    import pytest as _pt

    with _pt.raises(Exception):
        c.df(version=v1).collect()


@pytest.mark.slow
def test_optimize_compacts_small_files(spark, tmp_path):
    """OPTIMIZE rewrites an append-fragmented snapshot into few
    right-sized files; contents identical, committed as a new version
    so time travel still sees the fragmented snapshot."""
    import glob

    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(spark, str(tmp_path / "opt"), CollectionConfig(dimensions=2))
    for i in range(4):
        c.insert_batch(
            spark.createDataFrame(
                [(f"id{i}", [float(i), 0.0])], "id string, embedding array<float>"
            )
        )
    before_v = c.history()[-1]["version"]
    files_before = c._resolve(before_v)[0]
    c.optimize()
    after_v = c.history()[-1]["version"]
    assert after_v != before_v and c.history()[-1]["op"] == "optimize"
    # bucketed layout: compaction is per bucket — one file per
    # non-empty bucket, never more files than the fragmented snapshot
    files_after = c._resolve(after_v)[0]
    n_buckets_used = len(
        {c._bucket_of_path(f) for f in files_after}
    )
    assert len(files_after) == n_buckets_used <= len(files_before)
    assert sorted(r["id"] for r in c.df().collect()) == [f"id{i}" for i in range(4)]
    c.optimize(target_partitions=2)
    assert sorted(r["id"] for r in c.df().collect()) == [f"id{i}" for i in range(4)]


def test_chroma_add_query_roundtrip(spark, tmp_path):
    """ChromaDB-shaped add()/query() (ref client.py:146-274): auto-embed
    with the deterministic mock embedder, batch query as one job,
    include-control, _-prefixed key stripping, pre-filter semantics."""
    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(spark, str(tmp_path / "chroma"), CollectionConfig(dimensions=16))
    c.add(
        ids=["a", "b", "c"],
        documents=["hello world", "goodbye world", "spark engine"],
        metadatas=[
            {"topic": "greet", "lang": "en"},
            {"topic": "greet"},
            {"topic": "tech"},
        ],
    )
    out = c.query(query_texts=["hello world"], n_results=2)
    # deterministic mock embedder: the identical text is its own nearest
    # neighbor at distance ~0
    assert out["ids"][0][0] == "a"
    assert out["distances"][0][0] == pytest.approx(0.0, abs=1e-5)
    assert out["documents"][0][0] == "hello world"
    assert out["metadatas"][0][0] == {"topic": "greet", "lang": "en"}
    # _document never leaks into metadatas; missing fields dropped
    assert all("_document" not in m for row in out["metadatas"] for m in row)
    assert out["embeddings"] is None  # not in default include

    # where pre-filter + include control + multi-query batching
    out2 = c.query(
        query_texts=["hello world", "spark engine"],
        n_results=3,
        where={"topic": "greet"},
        include=("embeddings", "distances"),
    )
    assert len(out2["ids"]) == 2
    assert set(out2["ids"][0]) == {"a", "b"}  # c filtered out pre-topk
    assert out2["metadatas"] is None and out2["documents"] is None
    assert len(out2["embeddings"][0][0]) == 16

    # explicit embeddings path
    out3 = c.query(
        query_embeddings=[[0.0] * 16], n_results=1, include=("distances",)
    )
    assert len(out3["ids"][0]) == 1


def test_search_batch_matches_single(spark, db):
    """K2 API parity: search_batch per-query rows must equal per-query
    search() results (which knn_filtered oracle-gates)."""
    c = db.create_collection("batchcol", dimensions=4, metric="l2")
    c.insert_batch(_batch(spark, _vecs(12)))
    vecs = [r["embedding"] for r in c.df().orderBy("id").limit(3).collect()]
    batch = c.search_batch(vecs, k=5).collect()
    for qi, v in enumerate(vecs):
        single = c.search(v, k=5).collect()
        got = [(r["id"], r["dist"]) for r in batch if r["query_id"] == qi]
        want = [(r["id"], r["dist"]) for r in single]
        assert got == want, qi


def test_collection_config_knobs_roundtrip(spark, tmp_path):
    """HNSW-config parity (vectordb_optimized.py:191-200): knobs
    persist to config.json and survive re-open."""
    from fastpyvectordb_spark.catalog import VectorDB

    db = VectorDB(spark, str(tmp_path / "kdb"))
    db.create_collection("k", dimensions=8, metric="l2", m=32,
                         ef_construction=400, ef_search=128)
    db2 = VectorDB(spark, str(tmp_path / "kdb"))
    cfg = db2.get_collection("k").config
    assert (cfg.m, cfg.ef_construction, cfg.ef_search) == (32, 400, 128)
    assert (cfg.dimensions, cfg.metric) == (8, "l2")


def test_upsert_commit_is_manifest_delta_not_per_file_links(spark, tmp_path):
    """Deletion-vector upsert (Delta DV MERGE fast path) over manifest
    metadata: the new version REFERENCES every previous data file (same
    physical file, no copy, no per-file link), adds exactly one batch
    file and one kill file, and the version dir holds nothing but the
    manifest — commit metadata is O(changed files), which is what keeps
    a 1k-row MERGE O(batch) on a 100 TB / 10⁶-file table."""
    import os

    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(
        spark, str(tmp_path / "dl"), CollectionConfig(dimensions=2, n_buckets=8)
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"id{i}", [float(i), 0.0]) for i in range(200)],
            "id string, embedding array<float>",
        )
    )
    v1 = c.history()[-1]["version"]
    f1, dv1 = c._resolve(v1)
    ino_before = {
        os.stat(os.path.join(c.path, f)).st_ino for f in f1
    }
    nlink_before = {
        f: os.stat(os.path.join(c.path, f)).st_nlink for f in f1
    }
    c.upsert(
        spark.createDataFrame(
            [("id0", [9.0, 9.0])], "id string, embedding array<float>"
        )
    )
    v2 = c.history()[-1]["version"]
    f2, dv2 = c._resolve(v2)
    assert set(f1) <= set(f2), "previous files carry forward by reference"
    assert len(f2) == len(f1) + 1, "exactly one appended batch file"
    assert not dv1 and len(dv2) == 1, "one kill file records the replaced id"
    # NO per-file linking happened: same inodes, unchanged link counts
    for f in f1:
        st = os.stat(os.path.join(c.path, f))
        assert st.st_ino in ino_before
        assert st.st_nlink == nlink_before[f], "no hard links added"
    # the version dir holds only commit metadata, not a file tree
    entries = set(os.listdir(os.path.join(c.path, v2)))
    assert "manifest.json" in entries
    assert not any(e.startswith("_bucket=") for e in entries)
    # content correct: old row suppressed, new row visible
    rows = {r["id"]: list(r["embedding"]) for r in c.df().collect()}
    assert len(rows) == 200 and rows["id0"] == [9.0, 9.0]
    # time travel still sees the pre-upsert snapshot
    old = {r["id"]: list(r["embedding"]) for r in c.df(version=v1).collect()}
    assert old["id0"] == [0.0, 0.0]


@pytest.mark.slow
def test_delete_then_reinsert_and_optimize_compacts_dv(spark, tmp_path):
    """Kill-only delete; re-insert of a killed id becomes visible again
    (its _seq postdates the kill); optimize() folds deletion vectors
    away into a clean full snapshot."""
    import glob
    import os

    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(
        spark, str(tmp_path / "dv2"), CollectionConfig(dimensions=2, n_buckets=4)
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 1.0]) for i in range(20)],
            "id string, embedding array<float>",
        )
    )
    c.delete(ids=["k3", "k7", "nope"])
    assert c.count() == 18
    v_del = c.history()[-1]["version"]
    # delete commit wrote a DV but no new data files
    f_pre, _ = c._resolve(c.history()[-2]["version"])
    f_del, dv_del = c._resolve(v_del)
    assert dv_del and f_del == f_pre
    c.insert_batch(
        spark.createDataFrame(
            [("k3", [9.0, 9.0])], "id string, embedding array<float>"
        )
    )
    rows = {r["id"]: list(r["embedding"]) for r in c.df().collect()}
    assert len(rows) == 19
    assert rows["k3"] == [9.0, 9.0] and "k7" not in rows
    c.optimize()
    v_opt = c.history()[-1]["version"]
    assert not c._resolve(v_opt)[1], "optimize folds deletion vectors"
    rows2 = {r["id"]: list(r["embedding"]) for r in c.df().collect()}
    assert rows2 == rows


# A collection in the pre-log layout: a non-bucketed snapshot dir, a
# bucketed one with a deletion vector, a ``_versions`` history naming
# both, and a ``_current`` pointer a crash left unlogged (a restore of
# the first version that flipped but never logged).
_OLD1 = {f"L{i}": [float(i), 1.0, 0.0, 0.0] for i in range(6)}
_OLD2 = {**_OLD1, "L0": [9.0, 9.0, 9.0, 9.0], "L6": [6.0, 6.0, 6.0, 6.0]}


def _legacy_collection(spark, path):
    import json
    import os

    import pandas as pd

    import fastpyvectordb_spark.catalog as cat

    c = cat.Collection(spark, path, cat.CollectionConfig(dimensions=4, n_buckets=2))

    def frame(rows, seqs=None):
        pdf = pd.DataFrame({"id": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
        schema = "id string, embedding array<float>"
        if seqs is not None:
            pdf["_seq"] = seqs
            schema += ", _seq long"
        return spark.createDataFrame(pdf, schema)

    # v_old1: pre-bucketing, pre-DV — plain files in the version dir
    frame(sorted(_OLD1.items())).coalesce(1).write.parquet(
        os.path.join(path, "v_old1")
    )
    # v_old2: bucketed tree with a kill of L0's first row at seq 2
    rows = sorted(_OLD1.items()) + [("L0", _OLD2["L0"]), ("L6", _OLD2["L6"])]
    df = frame(rows, seqs=[1] * 6 + [2, 2])
    df.withColumn("_bucket", c._bucket()).repartition(2, "_bucket").write.partitionBy(
        "_bucket"
    ).parquet(os.path.join(path, "v_old2"))
    cat._write_kills(os.path.join(path, "v_old2", "_dv"), ["L0"], 2)
    with open(os.path.join(path, "_versions"), "w") as f:
        for v, op in (("v_old1", "insert"), ("v_old2", "upsert")):
            f.write(json.dumps({"version": v, "op": op, "ts": 1.0}) + "\n")
    with open(os.path.join(path, "_current"), "w") as f:
        f.write("v_old1")
    with open(os.path.join(path, "_commit.lock"), "w") as f:
        f.write("4242")  # a dead writer's lock
    return c.config, frame


def _rows(df):
    return {r["id"]: [float(x) for x in r["embedding"]] for r in df.collect()}


def _assert_migrated(c):
    import os

    for legacy in ("_current", "_versions", "_commit.lock"):
        assert not os.path.exists(os.path.join(c.path, legacy)), legacy
    hist = c.history()
    assert [(h["version"], h["op"]) for h in hist] == [
        ("v_old1", "insert"), ("v_old2", "upsert"), ("v_old1", "roll_forward"),
    ]
    assert sorted(
        n for n in os.listdir(os.path.join(c.path, "_log")) if not n.startswith(".")
    ) == [f"{s:020d}.json" for s in (1, 2, 3)]
    assert c._current_version() == "v_old1"
    assert _rows(c.df()) == _OLD1
    assert _rows(c.df(version="v_old2")) == _OLD2


@pytest.mark.slow
def test_legacy_nonbucketed_snapshot_dml(spark, tmp_path, crash_injected):
    """Opening a pre-log collection migrates it once: a dense log that
    ends at the old pointer, a checkpoint manifest over pooled files for
    both legacy layouts (time travel to each old version reads its old
    rows), working DML on top, and a second open that mutates nothing."""
    from fastpyvectordb_spark.catalog import Collection

    path = str(tmp_path / "legacy")
    cfg, _ = _legacy_collection(spark, path)
    c = Collection(spark, path, cfg)
    _assert_migrated(c)
    files, _ = c._resolve("v_old1")
    assert files and all(f.startswith("_files") for f in files)
    with crash_injected(path) as steps:
        again = Collection(spark, path, cfg)
    assert steps["n"] == 0, "second open mutated the collection"
    _assert_migrated(again)
    # every DML verb works on the migrated snapshots
    c.insert_batch(_batch(spark, [("L7", [7.0] * 4, "A")]))
    c.upsert(_batch(spark, [("L0", [5.0] * 4, "A")]))
    c.delete(ids=["L1"])
    want = {**_OLD1, "L0": [5.0] * 4, "L7": [7.0] * 4}
    del want["L1"]
    assert _rows(c.df()) == want
    c.restore("v_old2")
    assert _rows(c.df()) == _OLD2


def test_delete_on_empty_collection_is_noop(spark, db):
    c = db.create_collection("empty_del", dimensions=4)
    c.delete(ids=["ghost"])
    c.delete(where={"category": "Z"})
    assert c.count() == 0
    assert c.history() == []


def test_fast_delete_skips_verification(spark, db):
    """verify_existing=False: kill-only commit with no Spark job —
    requested ids vanish, absent ids are inert, re-insert works."""
    c = db.create_collection("fastdel", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(10)))
    c.delete(ids=["v1", "v3", "ghost"], verify_existing=False)
    assert c.count() == 8
    ids = set(c.list_ids(limit=100))
    assert "v1" not in ids and "v3" not in ids and "v5" in ids
    # killed id can come back (fresh _seq postdates the kill)
    c.insert_batch(_batch(spark, [("v1", [9.0] * 4, "A")]))
    assert c.count() == 9


def test_files_metadata_table(spark, tmp_path):
    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(
        spark, str(tmp_path / "filesmeta"),
        CollectionConfig(dimensions=2, n_buckets=4),
    )
    assert c.files().count() == 0  # empty collection
    c.insert_batch(
        spark.createDataFrame(
            [(f"f{i}", [float(i), 1.0]) for i in range(200)],
            "id string, embedding array<float>",
        )
    )
    inv = c.files().collect()
    assert inv and all(r["n_bytes"] > 0 for r in inv)
    assert sum(r["n_rows"] for r in inv) == 200
    assert {r["bucket"] for r in inv} <= set(range(4))
    assert all(r["n_row_groups"] >= 1 for r in inv)


def test_bloom_filter_option_grows_files(spark, tmp_path):
    """The id bloom filter must actually be written: same rows with
    the option produce strictly larger parquet files than without."""
    import glob, os
    from fastpyvectordb_spark.catalog import _BLOOM_OPTS

    df = spark.createDataFrame(
        [(f"someid-{i:06d}",) for i in range(20000)], "id string"
    ).coalesce(1)
    p1, p2 = str(tmp_path / "nb"), str(tmp_path / "wb")
    df.write.parquet(p1)
    df.write.options(**_BLOOM_OPTS).parquet(p2)
    size = lambda p: sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(p, "*.parquet"))
    )
    assert size(p2) > size(p1)


@pytest.mark.slow
def test_commit_conflict_detection(spark, tmp_path):
    """Optimistic concurrency: a commit built against a stale log tail
    is rejected at its log entry and its orphan version dir removed."""
    import os
    import pytest
    from fastpyvectordb_spark.catalog import (
        Collection, CollectionConfig, CommitConflictError,
    )

    c = Collection(
        spark, str(tmp_path / "occ"), CollectionConfig(dimensions=2, n_buckets=4)
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"a{i}", [1.0, 0.0]) for i in range(10)],
            "id string, embedding array<float>",
        )
    )
    base = c._log_tail()
    # writer B lands a commit first
    c.insert_batch(
        spark.createDataFrame(
            [("b0", [0.0, 1.0])], "id string, embedding array<float>"
        )
    )
    # writer A (built against base_v) must now conflict
    orphan = os.path.join(c.path, "v_orphan000000")
    os.makedirs(orphan)
    with pytest.raises(CommitConflictError, match="advanced"):
        c._finish_commit("v_orphan000000", "upsert", base)
    assert not os.path.exists(orphan)
    assert c.count() == 11  # B's commit intact, log tail untouched


def test_sequential_dml_unaffected_by_occ(spark, tmp_path):
    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(
        spark, str(tmp_path / "seq"), CollectionConfig(dimensions=2, n_buckets=4)
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"s{i}", [1.0, float(i)]) for i in range(20)],
            "id string, embedding array<float>",
        )
    )
    c.upsert(
        spark.createDataFrame(
            [("s0", [9.0, 9.0]), ("s99", [8.0, 8.0])],
            "id string, embedding array<float>",
        )
    )
    c.delete(ids=["s1"])
    assert c.count() == 20  # 20 + 1 new - 1 deleted


def test_schema_evolution_new_metadata_column(spark, tmp_path):
    """Adding a metadata column in a later batch must merge on read:
    old rows read it as NULL (the F7 missing-field contract), new rows
    carry values — no rewrite of the old buckets."""
    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(
        spark, str(tmp_path / "evo"), CollectionConfig(dimensions=2, n_buckets=4)
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"old{i}", [1.0, 0.0]) for i in range(5)],
            "id string, embedding array<float>",
        )
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"new{i}", [0.0, 1.0], "web") for i in range(3)],
            "id string, embedding array<float>, channel string",
        )
    )
    rows = {r["id"]: r.asDict() for r in c.df().collect()}
    assert len(rows) == 8
    assert rows["new0"]["channel"] == "web"
    assert rows["old0"]["channel"] is None


def test_null_id_and_null_embedding_rejected(spark, db):
    """Nulls are invisible to the !=/dup aggregates (NULL != dims is
    NULL) — they must be rejected explicitly or a NULL-embedding row
    sorts FIRST in every kNN and a NULL id breaks bucket-dir parsing."""
    c = db.create_collection("nulls", dimensions=4)
    bad_vec = spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0, 0.0], "A"), ("b", None, "B")],
        "id string, embedding array<float>, category string",
    )
    with pytest.raises(ValueError, match="null embedding"):
        c.insert_batch(bad_vec)
    bad_id = spark.createDataFrame(
        [(None, [1.0, 0.0, 0.0, 0.0], "A")],
        "id string, embedding array<float>, category string",
    )
    with pytest.raises(ValueError, match="null id"):
        c.insert_batch(bad_id)
    assert c.count() == 0


def test_upsert_duplicate_id_within_batch_rejected(spark, db):
    """Both copies of an in-batch dup would be appended with
    _seq == kill_seq (the DV keeps both) — a permanent unique-id
    violation, so the fast path must raise. The commit write is
    bucket-partitioned, so the task-local check is globally complete."""
    c = db.create_collection("updup", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(4)))
    dup = _batch(
        spark,
        [("v1", [9.0] * 4, "A"), ("v1", [8.0] * 4, "B"), ("v2", [7.0] * 4, "A")],
    )
    with pytest.raises(ValueError, match="duplicate id in upsert batch"):
        c.upsert(dup)
    # nothing half-applied: v1 unchanged, exactly one row per id
    rows = c.get(["v1"], include_vector=True).collect()
    assert len(rows) == 1 and rows[0]["embedding"] == [1.0] * 4


def test_empty_upsert_batch_commits_nothing(spark, db):
    """A streaming upsert sink sees empty micro-batches routinely —
    they must not bloat the version chain with full-relink commits."""
    c = db.create_collection("emptyup", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(3)))
    before = len(c.history())
    assert c.upsert(_batch(spark, [])) == 0
    assert len(c.history()) == before


@pytest.mark.slow
def test_insert_none_metadata_value(spark, db):
    """None metadata values are legal (they round-trip as SQL NULL);
    schema inference would raise on them."""
    c = db.create_collection("nonemeta", dimensions=4)
    c.insert([1.0, 0.0, 0.0, 0.0], "a", metadata={"note": None, "tag": "x"})
    c.insert([0.0, 1.0, 0.0, 0.0], "b", metadata={"note": None})
    ids = c.add(
        ids=["c"], embeddings=[[0.0, 0.0, 1.0, 0.0]],
        metadatas=[{"only_null": None}],
    )
    assert ids == ["c"]
    rows = {r["id"]: r.asDict() for r in c.get(["a", "b", "c"]).collect()}
    assert rows["a"]["tag"] == "x" and rows["a"]["note"] is None
    assert rows["c"]["only_null"] is None


def test_failed_upsert_leaves_no_phantom_cdc_events(spark, db):
    """CDC events are staged in the version dir and published only
    after the pointer flip — write tasks that finished before a
    failing sibling must not emit change events for a commit that
    never happened."""
    c = db.create_collection("cdcstage", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(4)))
    before = c.events_df().count()
    bad = spark.createDataFrame(
        [("v0", [1.0] * 4, "A"), ("vX", [1.0] * 3, "B")],  # vX: wrong dim
        "id string, embedding array<float>, category string",
    )
    with pytest.raises(ValueError, match="dimension mismatch"):
        c.upsert(bad)
    assert c.events_df().count() == before
    # and a successful upsert still publishes its events
    c.upsert(_batch(spark, [("v0", [5.0] * 4, "A")]))
    after = c.events_df().filter(F.col("event_type") == "update").count()
    assert after >= 1


def test_events_stream_before_first_mutation(spark, db):
    """Subscribing before any insert is the normal CDC setup order —
    must not raise PATH_NOT_FOUND."""
    c = db.create_collection("cdcearly", dimensions=4)
    stream = c.events_stream()  # no mutations yet
    assert stream.isStreaming


def test_optimize_respects_target_partitions(spark, db):
    """optimize(target_partitions=N) must actually split buckets into
    multiple files — the sizing was previously overridden by the
    bucket repartition (always ~n_buckets files)."""
    import glob as _glob

    c = db.create_collection("optsize", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(2000)))
    c.optimize(target_partitions=64)
    files = c._resolve(c._current_version())[0]
    # 16 buckets × 4 sub-splits ≈ 64 nonempty (bucket, split) cells
    assert len(files) > 20, f"only {len(files)} files"


def test_global_prefix_sum_decimal_column(spark):
    """Decimal value columns arrive as decimal.Decimal objects in both
    the collected totals and the Arrow batches — the scan must coerce
    rather than call .item() on a Decimal."""
    from fastpyvectordb_spark.operators.packing import global_prefix_sum

    df = spark.range(100).selectExpr(
        "id", "CAST(id AS DECIMAL(10,2)) AS amount"
    )
    out = global_prefix_sum(df, order_col="id", value_col="amount",
                            out_col="run").orderBy("id").collect()
    assert out[0]["run"] == 0.0
    assert out[99]["run"] == float(sum(range(99)))


def test_files_excludes_dv_kill_files(spark, tmp_path):
    """After a delete, DV kill files under _dv/ must not appear in the
    files() inventory (ADVICE r2: walk prunes metadata dirs)."""
    import os
    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(
        spark, str(tmp_path / "dvfiles"),
        CollectionConfig(dimensions=2, n_buckets=4),
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"d{i}", [float(i), 0.0]) for i in range(50)],
            "id string, embedding array<float>",
        )
    )
    c.delete(ids=[f"d{i}" for i in range(10)])
    inv = c.files().collect()
    assert inv and all("_dv" not in r["path"].split(os.sep) for r in inv)
    # data files still hold all 50 physical rows (kills are logical)
    assert sum(r["n_rows"] for r in inv) == 50
    assert all(r["bucket"] >= 0 for r in inv)


def test_first_commit_conflict_detected(spark, tmp_path):
    """Two concurrent FIRST inserts (built on the empty log) must
    conflict rather than the second silently discarding the first
    (ADVICE r2)."""
    import os
    import pytest
    from fastpyvectordb_spark.catalog import (
        Collection, CollectionConfig, CommitConflictError,
    )

    c = Collection(
        spark, str(tmp_path / "first"),
        CollectionConfig(dimensions=2, n_buckets=4),
    )
    # writer B lands the true first commit
    c.insert_batch(
        spark.createDataFrame(
            [("b0", [0.0, 1.0])], "id string, embedding array<float>"
        )
    )
    # writer A, built against the EMPTY collection, must now conflict
    orphan = os.path.join(c.path, "v_orphanfirst0")
    os.makedirs(orphan)
    with pytest.raises(CommitConflictError, match="advanced"):
        c._finish_commit("v_orphanfirst0", "insert", (0, None))
    assert not os.path.exists(orphan)
    assert c.count() == 1  # B's rows intact


@pytest.mark.slow
def test_upsert_local_fast_path_full_contract(spark, db, monkeypatch):
    """Round-4 driver-local small-upsert path: zero distributed write
    jobs, but the full commit contract must hold — kills suppress old
    rows, new rows read back, time travel sees the old snapshot, CDC
    events publish, and the distributed path still engages above the
    threshold."""
    import os

    import fastpyvectordb_spark.catalog as cat

    c = db.create_collection("local_up", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(6)))
    v_before = c._current_version()

    n = c.upsert(_batch(spark, [("v1", [9.0] * 4, "Z"), ("vnew", [7.0] * 4, "Z")]))
    assert n == 2
    assert c.count() == 7
    got = {r["id"]: r for r in c.df().collect()}
    assert [round(x) for x in got["v1"]["embedding"]] == [9, 9, 9, 9]
    assert got["v1"]["category"] == "Z"
    # time travel: pre-upsert snapshot unchanged
    old = {r["id"]: r for r in c.df(version=v_before).collect()}
    assert [round(x) for x in old["v1"]["embedding"]] == [1, 1, 1, 1]
    # DV kill file + published CDC events exist
    dv = c._resolve(c._current_version())[1]
    assert any("kills_" in os.path.basename(f) for f in dv)
    ev = os.path.join(c.path, "_events")
    assert any(f.endswith(".parquet") for f in os.listdir(ev))
    # error surface identical to the distributed path
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate id in upsert batch"):
        c.upsert(_batch(spark, [("d1", [1.0] * 4, "A"), ("d1", [2.0] * 4, "A")]))
    with _pytest.raises(ValueError, match="dimension mismatch"):
        c.upsert(_batch(spark, [("bad", [1.0] * 3, "A")]))
    assert c.count() == 7  # failed upserts committed nothing
    # above-threshold batches take the distributed path
    monkeypatch.setattr(cat, "_LOCAL_DML_MAX_ROWS", 3)
    called = {}
    orig = cat.Collection._commit_append

    def spy(self, *a, **kw):
        called["distributed"] = True
        return orig(self, *a, **kw)

    monkeypatch.setattr(cat.Collection, "_commit_append", spy)
    assert c.upsert(_batch(spark, _vecs(5, offset=40))) == 5
    assert called.get("distributed")
    assert c.count() == 7  # v0..v4 existed already (overwritten), +0 new


def test_search_local_parity_and_version_invalidation(spark, db):
    """Driver-resident serving twin (round 4): identical results to the
    distributed exact search, and any commit refreshes the pack."""
    import random

    rng = random.Random(5)
    c = db.create_collection("servpack", dimensions=8, metric="cosine")
    rows = [
        (f"s{i}", [rng.uniform(-1, 1) for _ in range(8)], "A")
        for i in range(200)
    ]
    c.insert_batch(_batch(spark, rows))
    q = [rng.uniform(-1, 1) for _ in range(8)]
    dist_rows = [(r["id"], r["dist"]) for r in c.search(q, k=7).collect()]
    local_rows = c.search_local(q, k=7)
    assert local_rows == dist_rows
    # commit invalidates: overwrite the top hit with a far vector
    top_id = dist_rows[0][0]
    far = [-x for x in q]
    c.upsert(_batch(spark, [(top_id, far, "A")]))
    local2 = c.search_local(q, k=7)
    assert local2 is not None and local2[0][0] != top_id
    assert local2 == [(r["id"], r["dist"]) for r in c.search(q, k=7).collect()]
    # over-threshold collections refuse the pack (callers go distributed)
    import fastpyvectordb_spark.catalog as cat

    old = cat.Collection.SERVING_PACK_MAX_FLOATS
    try:
        cat.Collection.SERVING_PACK_MAX_FLOATS = 10
        c._serving_pack = None
        del c._serving_pack
        assert c.search_local(q, k=7) is None
    finally:
        cat.Collection.SERVING_PACK_MAX_FLOATS = old


@pytest.mark.slow
def test_upsert_local_conflict_on_concurrent_commit(spark, db, monkeypatch):
    """The driver-local upsert path must keep the optimistic-commit
    contract: if another writer commits between the local path's
    snapshot read and its own log entry, the local commit conflicts,
    cleans its orphan version, and leaves the winner intact."""
    import pytest as _pytest

    import fastpyvectordb_spark.catalog as cat

    c = db.create_collection("local_occ", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(4)))

    # interpose on _finish_commit: before the local upsert logs, land
    # a competing insert through a SECOND handle on the same directory
    orig_finish = cat.Collection._finish_commit
    state = {"raced": False}

    def racing_finish(self, version, op, tail, pooled=None):
        if op == "upsert" and not state["raced"]:
            state["raced"] = True
            other = cat.Collection(spark, c.path, c.config)
            other.insert_batch(_batch(spark, [("zz", [7.0] * 4, "A")]))
        return orig_finish(self, version, op, tail, pooled=pooled)

    monkeypatch.setattr(cat.Collection, "_finish_commit", racing_finish)
    with _pytest.raises(cat.CommitConflictError, match="advanced"):
        c.upsert(_batch(spark, [("v0", [9.0] * 4, "A")]))
    monkeypatch.setattr(cat.Collection, "_finish_commit", orig_finish)
    # winner's row landed; loser's upsert did not; no orphan versions
    assert c.count() == 5
    got = {r["id"]: r for r in c.df().collect()}
    assert [round(x) for x in got["v0"]["embedding"]] == [0, 0, 0, 0]
    assert "zz" in got
    # retry succeeds from the fresh snapshot
    assert c.upsert(_batch(spark, [("v0", [9.0] * 4, "A")])) == 1
    assert [
        round(x)
        for x in {r["id"]: r for r in c.df().collect()}["v0"]["embedding"]
    ] == [9, 9, 9, 9]


@pytest.mark.slow
def test_manifest_chain_checkpoints_and_version_dirs_stay_metadata_only(
    spark, tmp_path
):
    """Sustained point DML builds a delta chain that (a) keeps every
    version dir metadata-only (no per-file links — commit cost is
    O(changed files) regardless of table size), and (b) folds into a
    full checkpoint every _CHECKPOINT_EVERY commits so reads never
    chase an unbounded chain."""
    import json as _json
    import os

    from fastpyvectordb_spark.catalog import (
        _CHECKPOINT_EVERY, Collection, CollectionConfig,
    )

    c = Collection(
        spark, str(tmp_path / "chain"),
        CollectionConfig(dimensions=2, n_buckets=4),
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"c{i}", [float(i), 0.0]) for i in range(40)],
            "id string, embedding array<float>",
        )
    )
    for i in range(_CHECKPOINT_EVERY + 3):
        c.upsert(
            spark.createDataFrame(
                [(f"c{i}", [9.0, float(i)])],
                "id string, embedding array<float>",
            )
        )
    kinds = []
    for h in c.history():
        v = h["version"]
        mp = os.path.join(c.path, v, "manifest.json")
        assert os.path.exists(mp), f"{v} missing manifest"
        with open(mp) as f:
            kinds.append(_json.load(f)["kind"])
        entries = os.listdir(os.path.join(c.path, v))
        assert not any(e.startswith("_bucket=") for e in entries), (
            f"{v} holds a data-file tree — commit was not metadata-only"
        )
    assert "checkpoint" in kinds[1:], "chain never checkpointed"
    assert kinds.count("delta") >= _CHECKPOINT_EVERY - 2
    rows = {r["id"]: list(r["embedding"]) for r in c.df().collect()}
    assert len(rows) == 40
    for i in range(_CHECKPOINT_EVERY + 3):
        assert rows[f"c{i}"] == [9.0, float(i)]


def test_vacuum_gcs_unreferenced_pool_files(spark, tmp_path):
    """vacuum() must GC pool files owned by dropped versions that no
    retained manifest references, keep every referenced file, and
    checkpoint retained manifests so their chains stay resolvable."""
    import glob
    import os

    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(
        spark, str(tmp_path / "gc"),
        CollectionConfig(dimensions=2, n_buckets=4),
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"g{i}", [float(i), 0.0]) for i in range(40)],
            "id string, embedding array<float>",
        )
    )
    c.upsert(
        spark.createDataFrame(
            [("g0", [7.0, 7.0])], "id string, embedding array<float>"
        )
    )
    # full rewrite: old pool files now referenced ONLY by old versions
    c.optimize()
    pool_before = set(glob.glob(str(tmp_path / "gc" / "_files" / "**" / "*.parquet"), recursive=True))
    removed = c.vacuum(keep_last=1)
    assert removed, "old versions should drop"
    pool_after = set(glob.glob(str(tmp_path / "gc" / "_files" / "**" / "*.parquet"), recursive=True))
    assert pool_after < pool_before, "dropped versions' files GC'd"
    live = {
        os.path.join(c.path, f)
        for f in c._resolve(c._current_version())[0]
    }
    assert live <= pool_after, "every referenced file survives"
    rows = {r["id"]: list(r["embedding"]) for r in c.df().collect()}
    assert len(rows) == 40 and rows["g0"] == [7.0, 7.0]


def test_dv_compaction_bounds_kill_files(spark, tmp_path):
    """Past _DV_COMPACT_AT accumulated kill files, the next commit
    folds them into one — the read path's DV set stays bounded under
    sustained point deletes."""
    from fastpyvectordb_spark.catalog import (
        _DV_COMPACT_AT, Collection, CollectionConfig,
    )

    c = Collection(
        spark, str(tmp_path / "dvc"),
        CollectionConfig(dimensions=2, n_buckets=4),
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"d{i}", [float(i), 0.0]) for i in range(100)],
            "id string, embedding array<float>",
        )
    )
    for i in range(_DV_COMPACT_AT + 6):
        c.delete(ids=[f"d{i}"], verify_existing=False)
    dv = c._resolve(c._current_version())[1]
    assert len(dv) <= _DV_COMPACT_AT, f"{len(dv)} DV files — never compacted"
    assert c.count() == 100 - (_DV_COMPACT_AT + 6)


@pytest.mark.slow
def test_legacy_dir_version_migrates_into_pool_once(
    spark, tmp_path, crash_injected
):
    """The migration survives a crash before any of its mutating steps:
    the next open finishes it, with the same log and snapshots as an
    uninterrupted one, and the collection takes new commits."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from fastpyvectordb_spark.catalog import Collection

    tmpl = str(tmp_path / "tmpl")
    cfg, frame = _legacy_collection(spark, tmpl)
    clean = shutil.copytree(tmpl, tmp_path / "clean")
    with crash_injected(str(clean)) as steps:
        Collection(spark, str(clean), cfg)
    n_steps = steps["n"]
    assert n_steps > 0

    def crash_at(k):
        d = str(shutil.copytree(tmpl, tmp_path / f"k{k}"))
        with crash_injected(d, crash_at=k), pytest.raises(crash_injected.Crash):
            Collection(spark, d, cfg)
        try:
            c = Collection(spark, d, cfg)
            _assert_migrated(c)
            c.delete(ids=["L2"], verify_existing=False)
            c.insert_batch(frame([("L2", [2.0] * 4)]))
            assert _rows(c.df()) == {**_OLD1, "L2": [2.0] * 4}
        except Exception as ex:  # report every crash point, not the first
            first = str(ex).splitlines()[0] if str(ex) else ""
            return f"k={k}/{n_steps}: {type(ex).__name__}: {first}"
        return None

    with ThreadPoolExecutor(4) as pool:
        failures = [f for f in pool.map(crash_at, range(1, n_steps + 1)) if f]
    assert not failures, "; ".join(failures)


def test_restore_then_dml_builds_on_restored_manifest(spark, tmp_path):
    """DML after restore() must build its manifest delta on the
    RESTORED version (not the abandoned head) — content reflects the
    restored snapshot plus the new change."""
    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    c = Collection(
        spark, str(tmp_path / "rst"),
        CollectionConfig(dimensions=2, n_buckets=4),
    )
    c.insert_batch(
        spark.createDataFrame(
            [(f"r{i}", [float(i), 0.0]) for i in range(10)],
            "id string, embedding array<float>",
        )
    )
    v1 = c.history()[-1]["version"]
    c.upsert(
        spark.createDataFrame(
            [("r0", [5.0, 5.0]), ("rx", [6.0, 6.0])],
            "id string, embedding array<float>",
        )
    )
    assert c.count() == 11
    c.restore(v1)
    assert c.count() == 10
    c.upsert(
        spark.createDataFrame(
            [("r1", [9.0, 9.0])], "id string, embedding array<float>"
        )
    )
    rows = {r["id"]: list(r["embedding"]) for r in c.df().collect()}
    assert len(rows) == 10  # rx from the abandoned head is NOT here
    assert "rx" not in rows and rows["r1"] == [9.0, 9.0]
    assert rows["r0"] == [0.0, 0.0]  # pre-fork value restored


def _pack_equal(a, b):
    import numpy as np

    assert list(a["ids"]) == list(b["ids"])
    assert np.allclose(a["vmat"], b["vmat"])
    assert np.array_equal(a["seq"], b["seq"])
    assert np.allclose(a["sqnorms"], b["sqnorms"])
    assert a["rows"] == b["rows"]
    ta = {c: a["tbl"][c].to_pylist() for c in a["tbl"].column_names}
    tb = {c: b["tbl"][c].to_pylist() for c in b["tbl"].column_names}
    assert ta == tb


@pytest.mark.slow
def test_pack_serving_incremental_equals_full_rebuild(spark, db):
    """Round 6: after DML commits the serving pack refreshes via the
    manifest delta (added pool files + current kill map) — the result
    must be identical to a from-scratch rebuild on a fresh handle,
    including under upsert-overwrite, delete, and a new metadata
    column appearing mid-stream (schema drift promotes to NULL)."""
    c = db.create_collection("incpack", dimensions=4, metric="cosine")
    c.insert_batch(_batch(spark, _vecs(300)))
    assert c.pack_serving() is not None  # prime the cache
    # upsert: overwrite 20 existing + 20 new ids
    c.upsert(_batch(spark, _vecs(20, offset=100)))
    c.upsert(
        _batch(
            spark,
            [(f"n{i}", [float(i), 1.0, 2.0, 3.0], "C") for i in range(20)],
        )
    )
    c.delete(ids=["v3", "v7", "n4"])
    # new metadata column only present in this commit's files
    c.insert_batch(
        spark.createDataFrame(
            [(f"x{i}", [float(i + 7)] * 4, "D", "drifted") for i in range(15)],
            "id string, embedding array<float>, category string, note string",
        )
    )
    inc = c.pack_serving()
    fresh = db.get_collection("incpack")
    full = fresh.pack_serving()
    assert inc is not None and full is not None
    _pack_equal(inc, full)
    assert len(inc["ids"]) == 300 + 20 - 3 + 15
    # drifted column reads NULL for pre-drift rows in BOTH packs
    note = dict(zip(inc["tbl"]["id"].to_pylist(), inc["tbl"]["note"].to_pylist()))
    assert note["x0"] == "drifted" and note["v1"] is None


@pytest.mark.slow
def test_pack_serving_incremental_runs_zero_spark_jobs(spark, db, monkeypatch):
    """The delta refresh must not touch Spark at all: with the full
    rebuild path (and count()) booby-trapped, a post-DML pack_serving
    still succeeds off pyarrow reads of the added pool files."""
    from fastpyvectordb_spark.catalog import Collection

    c = db.create_collection("zerojob", dimensions=4, metric="l2")
    c.insert_batch(_batch(spark, _vecs(100)))
    assert c.pack_serving() is not None
    c.upsert(_batch(spark, _vecs(5, offset=50)))
    c.delete(ids=["v9"])

    def boom(self, *a, **kw):
        raise AssertionError("full rebuild path used")

    monkeypatch.setattr(Collection, "_df_live", boom)
    monkeypatch.setattr(Collection, "count", boom)
    pack = c.pack_serving()
    assert pack is not None
    # upsert reused ids v0-v4 (offset changes values only) → still 100
    # ids, minus the deleted v9
    assert len(pack["ids"]) == 99 and "v9" not in pack["rows"]
    assert pack["rows"].get("v0") is not None
    monkeypatch.undo()
    _pack_equal(pack, db.get_collection("zerojob").pack_serving())


@pytest.mark.slow
def test_pack_serving_falls_back_on_optimize_and_restore(spark, db):
    """File-removing shapes (optimize rewrite, restore) can't be
    expressed as a pack delta — the refresh must detect them and fall
    back to the full rebuild, still correct."""
    c = db.create_collection("fbpack", dimensions=4, metric="cosine")
    c.insert_batch(_batch(spark, _vecs(60)))
    v1 = c.history()[-1]["version"]
    assert c.pack_serving() is not None
    c.upsert(_batch(spark, _vecs(10, offset=30)))
    c.optimize()
    p = c.pack_serving()
    assert p is not None
    _pack_equal(p, db.get_collection("fbpack").pack_serving())
    c.restore(v1)
    p2 = c.pack_serving()
    assert len(p2["ids"]) == 60
    _pack_equal(p2, db.get_collection("fbpack").pack_serving())


def test_pack_serving_incremental_respects_size_refusal(spark, db):
    """Growth past SERVING_PACK_MAX_FLOATS through the delta path must
    flip the pack to the None refusal, not keep serving stale data."""
    import fastpyvectordb_spark.catalog as cat

    c = db.create_collection("growpack", dimensions=4, metric="cosine")
    c.insert_batch(_batch(spark, _vecs(50)))
    assert c.pack_serving() is not None
    old = cat.Collection.SERVING_PACK_MAX_FLOATS
    try:
        cat.Collection.SERVING_PACK_MAX_FLOATS = 60 * 4  # next insert overflows
        c.insert_batch(
            _batch(
                spark,
                [(f"g{i}", [float(i + 500)] * 4, "A") for i in range(20)],
            )
        )
        assert c.pack_serving() is None
    finally:
        cat.Collection.SERVING_PACK_MAX_FLOATS = old


@pytest.mark.slow
def test_pack_serving_vacuumed_base_version_falls_back(spark, db):
    """vacuum() drops old version dirs AND pops their manifest-cache
    entries — a pack cached at a now-vacuumed base version must NOT
    treat the empty resolution as 'everything was added' (which would
    duplicate every cached row); it falls back to the full rebuild."""
    c = db.create_collection("vacpack", dimensions=4, metric="cosine")
    c.insert_batch(_batch(spark, _vecs(40)))
    assert c.pack_serving() is not None
    packed_ver = c._serving_pack[0]
    c.upsert(_batch(spark, _vecs(5, offset=9)))
    c.insert_batch(
        _batch(spark, [(f"w{i}", [float(i + 3)] * 4, "B") for i in range(10)])
    )
    c.vacuum(keep_last=1)
    assert c._serving_pack[0] == packed_ver  # still the stale pack
    assert c._load_manifest(packed_ver) is None  # base truly gone
    c._mf_cache.pop(packed_ver, None)
    p = c.pack_serving()
    assert p is not None and len(p["ids"]) == 50  # no duplication
    _pack_equal(p, db.get_collection("vacpack").pack_serving())


def test_pack_serving_restore_resurrects_killed_rows(spark, db):
    """delete → restore(pre-delete): data files are IDENTICAL but the
    DV file is removed — kills are not monotone across restore, so the
    incremental delta must fall back to the full rebuild (found by the
    DML state-machine test: the cached pack stayed missing the
    un-deleted row through restore and vacuum)."""
    c = db.create_collection("respack", dimensions=4, metric="cosine")
    c.insert_batch(_batch(spark, _vecs(30)))
    v1 = c.history()[-1]["version"]
    p0 = c.pack_serving()
    assert p0 is not None and len(p0["ids"]) == 30
    victim = sorted(p0["ids"])[5]
    c.delete(ids=[str(victim)])
    p1 = c.pack_serving()
    assert len(p1["ids"]) == 29 and victim not in set(p1["ids"])
    c.restore(v1)
    p2 = c.pack_serving()  # same handle → the delta path would run
    assert len(p2["ids"]) == 30 and victim in set(p2["ids"])
    _pack_equal(p2, db.get_collection("respack").pack_serving())
    c.vacuum()  # the state-machine falsifying tail: still stable
    p3 = c.pack_serving()
    assert len(p3["ids"]) == 30 and victim in set(p3["ids"])


@pytest.mark.slow
def test_pointer_flip_never_reads_empty(spark, db, tmp_path):
    """The current version must move ATOMICALLY: a reader must never
    see a healthy collection as empty (an in-place truncating pointer
    write once did that — caught live by the round-6 HTTP hammer).
    Hammer log commits (restores) against a tight reader loop on a
    second handle."""
    import threading

    from fastpyvectordb_spark.catalog import Collection

    c = db.create_collection("ptr", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(5)))
    v1 = c._current_version()
    c.upsert(_batch(spark, _vecs(2, offset=10)))
    v2 = c._current_version()
    assert v1 and v2 and v1 != v2
    reader = Collection(spark, c.path, c.config)
    stop = threading.Event()
    seen_none = []

    def read():
        while not stop.is_set():
            if reader._current_version() is None:
                seen_none.append(1)
                return

    t = threading.Thread(target=read)
    t.start()
    try:
        for _ in range(2000):
            c.restore(v1)
            c.restore(v2)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert not seen_none, "reader observed an empty collection"
    assert c._current_version() == v2
    assert reader._current_version() == v2


@pytest.mark.slow
def test_concurrent_restores_land_a_dense_log(spark, db):
    """Put-if-absent under contention: four threads, each on its own
    handle, each restore 50 times. Every restore lands exactly once,
    the seqs are dense and unique, and every handle reads the same
    history."""
    import os
    import sys
    import threading

    from fastpyvectordb_spark.catalog import Collection

    c = db.create_collection("race", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(3)))
    v1 = c._current_version()
    c.upsert(_batch(spark, _vecs(1, offset=10)))
    v2 = c._current_version()
    n0 = len(c.history())
    handles = [Collection(spark, c.path, c.config) for _ in range(4)]

    def run(h, i):
        for k in range(50):
            h.restore(v1 if (i + k) % 2 else v2)

    threads = [
        threading.Thread(target=run, args=(h, i)) for i, h in enumerate(handles)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    hist = c.history()
    assert len(hist) == n0 + 200
    assert [h["op"] for h in hist[n0:]] == ["restore"] * 200
    # no temp file is left behind either
    names = sorted(os.listdir(os.path.join(c.path, "_log")))
    assert names == [f"{s:020d}.json" for s in range(1, n0 + 201)]
    for h in handles:
        assert h.history() == hist


@pytest.mark.slow
def test_pack_refresh_merge_random_dml_parity(spark, db):
    """Round 7 merge-refresh pin: the incremental pack (binary-search
    kill resolution + searchsorted inserts, one gather per side) must
    equal a fresh-handle full rebuild after EVERY commit of a random
    insert/upsert/delete interleaving — including packs that go stale
    by several commits between refreshes."""
    import random

    rng = random.Random(1234)
    c = db.create_collection("mergepack", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(60)))
    assert c.pack_serving() is not None
    live = {f"v{i}" for i in range(60)}
    fresh_n = 0
    for step in range(12):
        kind = rng.choice(["insert", "upsert", "delete", "delete_fast"])
        if kind == "insert":
            rows = [
                (f"m{fresh_n + j}", [rng.uniform(-1, 1)] * 4, "C")
                for j in range(rng.randint(1, 5))
            ]
            fresh_n += len(rows)
            c.insert_batch(_batch(spark, rows))
            live |= {r[0] for r in rows}
        elif kind == "upsert":
            targets = rng.sample(sorted(live), min(3, len(live)))
            c.upsert(
                _batch(
                    spark,
                    [(t, [rng.uniform(-1, 1)] * 4, "U") for t in targets],
                )
            )
        elif kind in ("delete", "delete_fast") and len(live) > 5:
            victims = rng.sample(sorted(live), rng.randint(1, 3))
            c.delete(ids=victims, verify_existing=(kind == "delete"))
            live -= set(victims)
        # sometimes let the pack go stale across multiple commits
        if rng.random() < 0.6:
            inc = c.pack_serving()
            full = db.get_collection("mergepack").pack_serving()
            assert inc is not None and full is not None
            _pack_equal(inc, full)
            assert set(inc["ids"]) == live
    inc = c.pack_serving()
    full = db.get_collection("mergepack").pack_serving()
    _pack_equal(inc, full)
    assert set(inc["ids"]) == live


def test_get_local_matches_distributed_get(spark, db, monkeypatch):
    """Round 7: the pack-backed point lookup (get_local) must return
    exactly the distributed get()'s rows — including metadata, vector
    stripping, missing ids skipped — with ZERO Spark jobs (the
    distributed machinery booby-trapped), and fall back with None
    above the pack threshold."""
    import fastpyvectordb_spark.catalog as cat
    from fastpyvectordb_spark.catalog import Collection

    c = db.create_collection("getlocal", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(50)))
    want = sorted(
        (r.asDict() for r in c.get(["v3", "v7"], include_vector=True).collect()),
        key=lambda d: d["id"],
    )
    assert c.pack_serving() is not None

    def boom(self, *a, **kw):
        raise AssertionError("distributed get path used")

    monkeypatch.setattr(Collection, "_touched_buckets", boom)
    got = c.get_local(["v3", "nope", "v7"])
    assert sorted(got, key=lambda d: d["id"]) == want
    novec = c.get_local(["v3"], include_vector=False)
    assert "embedding" not in novec[0] and novec[0]["id"] == "v3"
    monkeypatch.undo()

    # oversize → None (caller falls back to the distributed plan)
    old = cat.Collection.SERVING_PACK_MAX_FLOATS
    try:
        cat.Collection.SERVING_PACK_MAX_FLOATS = 10
        c.__dict__.pop("_serving_pack", None)
        assert c.get_local(["v3"]) is None
    finally:
        cat.Collection.SERVING_PACK_MAX_FLOATS = old


def test_list_ids_cold_skips_pack_build(spark, db, monkeypatch):
    """ADVICE r7: a cold list_ids page must NOT trigger the full
    serving-pack Arrow collect — it reads the cache like count() and
    falls through to the distributed offset/limit plan otherwise."""
    import fastpyvectordb_spark.catalog as cat

    c = db.create_collection("coldids", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(30)))
    c.__dict__.pop("_serving_pack", None)

    def boom(self, *a, **kw):
        raise AssertionError("cold list_ids built the serving pack")

    monkeypatch.setattr(cat.Collection, "pack_serving", boom)
    page = c.list_ids(limit=5, offset=2)
    assert page == sorted(f"v{i}" for i in range(30))[2:7]
    assert getattr(c, "_serving_pack", None) is None  # still cold
    monkeypatch.undo()

    # warm + version-current pack answers the same page zero-job
    assert c.pack_serving() is not None
    monkeypatch.setattr(cat.Collection, "df", boom)
    assert c.list_ids(limit=5, offset=2) == page
    monkeypatch.undo()


@pytest.mark.slow
def test_pack_delta_duplicate_id_falls_back_to_full_rebuild(spark, db):
    """ADVICE r7: the incremental pack merge assumes new-file ids are
    disjoint from surviving old ids. A commit that re-adds an existing
    id WITHOUT a kill entry (no DML verb does this today — simulated
    via a raw append commit) must make the delta refuse (return None)
    rather than mint a pack with duplicate ids that break binary-
    search lookups."""
    c = db.create_collection("duppack", dimensions=4, metric="cosine")
    c.insert_batch(_batch(spark, _vecs(50)))
    pack = c.pack_serving()
    assert pack is not None
    old_ver = c._serving_pack[0]

    # bypass insert()'s dup-reject: append a pool file re-adding v7
    c._commit_append(
        _batch(spark, [("v7", [9.0, 9.0, 9.0, 9.0], "Z")]), "insert"
    )
    new_ver = c._current_version()
    assert new_ver != old_ver
    assert c._pack_refresh_delta(old_ver, new_ver, pack) is None

    # the legit shapes still delta-merge: upsert (kill + re-add) and a
    # disjoint insert against the same cached base
    c2 = db.create_collection("duppack2", dimensions=4, metric="cosine")
    c2.insert_batch(_batch(spark, _vecs(50)))
    p2 = c2.pack_serving()
    v0 = c2._serving_pack[0]
    c2.upsert(_batch(spark, _vecs(5, offset=100)))
    c2.insert_batch(_batch(spark, [("w1", [1.0] * 4, "C")]))
    merged = c2._pack_refresh_delta(v0, c2._current_version(), p2)
    assert merged is not None and len(merged["ids"]) == 51


def test_insert_inbatch_dup_aborts_before_publish(spark, db):
    """Round-12 insert path pin: validation/dup checks moved to a
    post-write / pre-publish gate against the staged bytes — a failed
    in-batch dup check must abort with the historic message, leave the
    version chain unmoved, publish no CDC events, and leave no staged
    garbage behind."""
    import os

    c = db.create_collection("col_dupb", dimensions=4)
    c.insert_batch(_batch(spark, _vecs(2)))
    base_ver = c._current_version()
    dup = _batch(spark, _vecs(1) + _vecs(1))  # id v0 twice
    with pytest.raises(ValueError, match="duplicate id in batch"):
        c.insert_batch(dup)
    assert c._current_version() == base_ver
    assert c.count() == 2
    # only the 2 original insert events exist
    ev = c.events_df().collect()
    assert len(ev) == 2
    # the aborted version's stage dir and version dir are gone
    stage_root = os.path.join(c.path, "_stage")
    if os.path.isdir(stage_root):
        assert os.listdir(stage_root) == [], os.listdir(stage_root)
    vdirs = {
        d for d in os.listdir(c.path) if d.startswith("v_")
    }
    assert vdirs == {base_ver}, vdirs
