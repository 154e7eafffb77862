"""Ingestion sources: corpus readers + reference-DB migration.

Two jobs live here:

1. **Corpus readers** (``read_documents_jsonl`` / ``read_documents_csv``)
   — the 100 TB path. JSONL is the lingua franca of LLM training data;
   both readers are plain ``spark.read`` calls (distributed, splittable,
   schema-projected at the scan) run in PERMISSIVE mode with a
   ``_corrupt_record`` capture column, because at corpus scale malformed
   lines are a statistical certainty and a fail-stop read of 100 TB is
   not an option. Corrupt rows are quarantined, never silently dropped.

2. **Reference-DB migration importers** — the "switch to this engine"
   story. A user of the reference (jcolano/fastpyvectordb) has
   collections persisted in one of two on-disk formats; both import
   into a :class:`~fastpyvectordb_spark.catalog.VectorDB` collection:

   - the default layout (``vectordb.py:300-325`` save): per-collection
     ``config.json`` + ``metadata.json`` (id→metadata) +
     ``vectors.npy`` (a dict id→float32 array pickled through
     ``np.save``; loaded exactly as the reference does with
     ``np.load(..., allow_pickle=True).item()``, ``vectordb.py:293-296``),
   - the PYVDB binary format (``binary_persistence.py:42-140``):
     ``PYVDB`` magic, version byte, JSON config header, pickled
     id-mapping + metadata blocks, then an ``(n, dims)`` uint32 pair
     and the raw float32 matrix.

   TRUST: both formats embed **pickle**, which executes code on load —
   the same trust model as the reference's own ``load`` path. Only
   import files you (or a trusted reference deployment) wrote.

   The importer reads driver-side by design: a reference DB is a
   single-process NumPy engine, so its entire dataset fits one machine
   by construction — the migration is a one-time, dimension-table-sized
   load, chunked into ``insert_batch`` commits so arbitrarily large
   collections never materialize as one Python list.
"""

from __future__ import annotations

import json
import os
import pickle
import struct
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

    from fastpyvectordb_spark.catalog import Collection, VectorDB

DOCUMENT_COLUMNS = ["doc_id", "text", "lang", "source", "n_chars"]


# ---------------------------------------------------------------------------
# Corpus readers (distributed — the scale path)
# ---------------------------------------------------------------------------

def read_documents_jsonl(
    spark: "SparkSession",
    path: str,
    text_col: str = "text",
    id_col: str | None = "doc_id",
) -> "DataFrame":
    """Distributed JSONL corpus read → the ``documents`` table shape.

    PERMISSIVE + ``_corrupt_record``: malformed lines land whole in the
    quarantine column with every data field null; callers split them
    off with :func:`split_corrupt`. Missing ``lang``/``source`` come
    back null (schema-projected, not inferred — at 100 TB a sampling
    inference pass over the whole corpus is a wasted read). When
    ``id_col`` is absent in the data a deterministic id is synthesized
    from the text hash — stable across re-reads and partitionings,
    unlike ``monotonically_increasing_id``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col or "doc_id", LongType()),
            StructField(text_col, StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)
    good_id = F.when(
        F.col(id_col or "doc_id").isNull() & F.col("_corrupt_record").isNull(),
        F.abs(F.xxhash64(F.col(text_col))),
    ).otherwise(F.col(id_col or "doc_id"))
    return df.select(
        good_id.alias("doc_id"),
        F.col(text_col).alias("text"),
        "lang",
        "source",
        F.length(text_col).alias("n_chars"),
        "_corrupt_record",
    )


def read_documents_csv(
    spark: "SparkSession",
    path: str,
    text_col: str = "text",
    header: bool = True,
    sep: str = ",",
) -> "DataFrame":
    """Distributed CSV corpus read, same contract as the JSONL reader
    (PERMISSIVE, quarantine column, projected schema)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField(text_col, StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return df.select(
        "doc_id",
        F.col(text_col).alias("text"),
        "lang",
        "source",
        F.length(text_col).alias("n_chars"),
        "_corrupt_record",
    )


def split_corrupt(df: "DataFrame") -> tuple["DataFrame", "DataFrame"]:
    """(clean_rows_without_quarantine_col, corrupt_rows).

    The input is cached here out of necessity, not convenience: Spark
    refuses any query whose scan would reference ONLY the internal
    corrupt-record column (``UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
    RECORD_COLUMN`` — both branches here trip it on a raw reader
    plan), and its documented remedy is to materialize the parsed
    rows first. Call ``.unpersist()`` on the returned ``clean`` frame
    when done. For a corpus too large to cache, skip this helper and
    run two independent reads instead (PERMISSIVE for the data,
    ``badRecordsPath`` for the quarantine)."""
    from pyspark.sql import functions as F

    df = df.cache()
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return clean, bad


# ---------------------------------------------------------------------------
# Reference-DB migration (driver-side one-time load, chunked commits)
# ---------------------------------------------------------------------------

def _ingest_rows(
    db: "VectorDB",
    name: str,
    dimensions: int,
    metric: str,
    rows_iter,
    batch_size: int,
) -> "Collection":
    from pyspark.sql import functions as F

    coll = db.create_collection(name, dimensions=dimensions, metric=metric)

    def flush(chunk: list[dict]) -> None:
        if not chunk:
            return
        from pyspark.sql.types import (
            ArrayType,
            BooleanType,
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        # explicit schema — inference would raise on a metadata key
        # whose values are all-None within this chunk; type each key
        # from its first non-None value (bool before int: bool IS an
        # int in Python), stringify non-scalars, default all-None to
        # string
        keys = sorted({k for r in chunk for k in r} - {"id", "embedding"})

        def key_type(k):
            for r in chunk:
                v = r.get(k)
                if v is None:
                    continue
                if isinstance(v, bool):
                    return BooleanType(), None
                if isinstance(v, int):
                    return LongType(), None
                if isinstance(v, float):
                    return DoubleType(), None
                if isinstance(v, str):
                    return StringType(), None
                return StringType(), json.dumps  # list/dict → JSON text
            return StringType(), None

        typed = {k: key_type(k) for k in keys}
        schema = StructType(
            [
                StructField("id", StringType()),
                StructField("embedding", ArrayType(DoubleType())),
                *[StructField(k, t) for k, (t, _) in typed.items()],
            ]
        )
        shaped = [
            {
                "id": r["id"],
                "embedding": r["embedding"],
                **{
                    k: (
                        conv(r[k])
                        if conv is not None and r.get(k) is not None
                        else r.get(k)
                    )
                    for k, (_, conv) in typed.items()
                },
            }
            for r in chunk
        ]
        batch = db.spark.createDataFrame(shaped, schema).withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        )
        coll.insert_batch(batch)

    chunk: list[dict] = []
    for row in rows_iter:
        chunk.append(row)
        if len(chunk) >= batch_size:
            flush(chunk)
            chunk = []
    flush(chunk)
    return coll


def import_reference_collection(
    db: "VectorDB",
    src_dir: str,
    name: str | None = None,
    batch_size: int = 50_000,
) -> "Collection":
    """Import a collection saved by the reference's default persistence
    (``vectordb.py:300-325``): ``config.json`` + ``vectors.npy`` +
    ``metadata.json`` in one directory. ``index.bin`` (hnswlib) is
    intentionally ignored — indexes are derived data; rebuild with
    ``Collection.build_ann_index`` (IVF, ``ann.ivf``) after import."""
    import numpy as np

    with open(os.path.join(src_dir, "config.json")) as f:
        config = json.load(f)
    # exactly the reference's own load expression (vectordb.py:293-296)
    vectors = np.load(
        os.path.join(src_dir, "vectors.npy"), allow_pickle=True
    ).item()
    meta_path = os.path.join(src_dir, "metadata.json")
    metadata: dict = {}
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            metadata = json.load(f)

    def rows():
        # metadata first — id/embedding must win over a metadata key
        # that happens to be named "id"/"embedding" (same rule as
        # catalog.insert / server.insert_batch)
        for vid, vec in vectors.items():
            yield {
                **(metadata.get(vid) or {}),
                "id": str(vid),
                "embedding": [float(x) for x in vec],
            }

    return _ingest_rows(
        db,
        name or config["name"],
        int(config["dimensions"]),
        str(config.get("metric", "cosine")),
        rows(),
        batch_size,
    )


def import_reference_binary(
    db: "VectorDB",
    path: str,
    name: str,
    metric: str = "cosine",
    batch_size: int = 50_000,
) -> "Collection":
    """Import a PYVDB binary vector file
    (``binary_persistence.py:42-140``): magic, version, JSON header,
    pickled id-mapping (``{"ids": [...], "id_to_label", "label_to_id"}``
    — matrix row *i* belongs to ``ids[i]``), pickled metadata
    (id→dict), then ``(n_vectors, dimensions)`` as two uint32s and the
    row-major float32 matrix. ``path`` may be the save directory (the
    writer names the file ``data.bin``) or the file itself."""
    import numpy as np

    if os.path.isdir(path):
        path = os.path.join(path, "data.bin")
    with open(path, "rb") as f:
        magic = f.read(5)
        if magic != b"PYVDB":
            raise ValueError(f"not a PYVDB file (magic {magic!r})")
        (version,) = struct.unpack("B", f.read(1))
        if version != 1:
            raise ValueError(f"unsupported PYVDB version {version}")
        (header_size,) = struct.unpack("I", f.read(4))
        header = json.loads(f.read(header_size).decode("utf-8"))
        (id_size,) = struct.unpack("I", f.read(4))
        id_mapping = pickle.loads(f.read(id_size))  # trusted input only
        (meta_size,) = struct.unpack("I", f.read(4))
        metadata = pickle.loads(f.read(meta_size))  # trusted input only
        n, dims = struct.unpack("II", f.read(8))
        mat = np.frombuffer(f.read(n * dims * 4), dtype=np.float32).reshape(
            n, dims
        )

    ids = id_mapping["ids"]  # matrix row i belongs to ids[i]

    def rows():
        # metadata first — id/embedding must win (see note above)
        for i, ext_id in enumerate(ids):
            yield {
                **(metadata.get(ext_id) or {}),
                "id": str(ext_id),
                "embedding": [float(x) for x in mat[i]],
            }

    return _ingest_rows(
        db, name, int(header.get("dimensions", dims)), metric, rows(),
        batch_size,
    )


# ---------------------------------------------------------------------------
# Graph / BM25 / graph-vector migration (round 4): the remaining
# reference persistence formats. A reference deployment's graph is the
# one dataset that is NOT recomputable from a corpus — these importers
# complete the "switch engines without losing data" story.
# ---------------------------------------------------------------------------


def import_reference_graph(
    spark: "SparkSession",
    src: str,
    dest_path: str | None = None,
):
    """Import a reference property graph (``graph.py:540-582`` save:
    one ``graph.json`` holding nodes/edges/hyperedges dicts) into the
    engine's three-table parquet layout (:mod:`graphs`).

    Schema mapping (suite/operators contract):

    - nodes:      (node_id, labels array<string>, properties as
      top-level columns — the reference's free-form property dict is
      flattened; property keys colliding with ``node_id``/``labels``
      are prefixed ``prop_``)
    - edges:      (edge_id, src, dst, type, flattened properties)
    - hyperedges: (hyperedge_id, nodes array<string>, type, flattened
      properties)

    ``src`` may be the directory or the ``graph.json`` file. Returns
    (nodes, edges, hyperedges) DataFrames; with ``dest_path`` they are
    also persisted via :func:`graphs.save_graph` (edges partitioned by
    type). Driver-side JSON parse by design: the reference engine is
    single-process, so its graph fits one machine by construction."""
    from fastpyvectordb_spark.graphs import save_graph

    if os.path.isdir(src):
        src = os.path.join(src, "graph.json")
    with open(src) as f:
        data = json.load(f)

    def flat(rec: dict, reserved: tuple[str, ...]) -> dict:
        out = {}
        for k, v in (rec.get("properties") or {}).items():
            key = f"prop_{k}" if k in reserved else k
            out[key] = v
        return out

    node_rows = [
        {
            "node_id": str(n["id"]),
            "labels": [str(x) for x in (n.get("labels") or [])],
            **flat(n, ("node_id", "labels")),
        }
        for n in data.get("nodes", [])
    ]
    edge_rows = [
        {
            "edge_id": str(e["id"]),
            "src": str(e["from"]),
            "dst": str(e["to"]),
            "type": str(e["type"]),
            **flat(e, ("edge_id", "src", "dst", "type")),
        }
        for e in data.get("edges", [])
    ]
    hyper_rows = [
        {
            "hyperedge_id": str(h["id"]),
            "nodes": [str(x) for x in (h.get("nodes") or [])],
            "type": str(h["type"]),
            **flat(h, ("hyperedge_id", "nodes", "type")),
        }
        for h in data.get("hyperedges", [])
    ]

    def df_of(rows: list[dict], fallback_schema: str):
        if not rows:
            return spark.createDataFrame([], fallback_schema)
        # createDataFrame from dicts unions keys across rows; missing
        # property keys become NULL — exactly the F7 missing-field rule
        return spark.createDataFrame(rows)

    nodes = df_of(node_rows, "node_id string, labels array<string>")
    edges = df_of(
        edge_rows, "edge_id string, src string, dst string, type string"
    )
    hyper = df_of(
        hyper_rows, "hyperedge_id string, nodes array<string>, type string"
    )
    if dest_path is not None:
        save_graph(dest_path, nodes, edges, hyper)
    return nodes, edges, hyper


def import_reference_bm25(spark: "SparkSession", src: str):
    """Import a reference BM25 index (``hybrid_search.py:181-204``
    ``to_dict`` JSON: docs, doc_lengths, avg_doc_length, total_docs,
    inverted_index {term: {doc_id: tf}}, config {k1, b}) into a
    :class:`~fastpyvectordb_spark.operators.bm25.BM25Index` (postings +
    doc_lengths + term_stats DataFrames, stats as driver literals).

    Returns ``(index, config_dict)`` — config carries the reference's
    k1/b so queries can preserve its scoring constants. ``src`` may be
    a directory (``bm25_index.json`` inside) or the file itself.

    Doc ids import as strings (the reference keys every dict by str);
    BM25 scoring joins stay type-consistent as long as the queried
    corpus uses the same id type."""
    from fastpyvectordb_spark.operators.bm25 import BM25Index

    if os.path.isdir(src):
        src = os.path.join(src, "bm25_index.json")
    with open(src) as f:
        data = json.load(f)
    post_rows = [
        (str(doc_id), str(term), int(tf))
        for term, docs in (data.get("inverted_index") or {}).items()
        for doc_id, tf in docs.items()
    ]
    len_rows = [
        (str(doc_id), int(n))
        for doc_id, n in (data.get("doc_lengths") or {}).items()
    ]
    postings = spark.createDataFrame(
        post_rows, "doc_id string, term string, tf long"
    ).localCheckpoint()
    doc_lengths = spark.createDataFrame(
        len_rows, "doc_id string, doc_len int"
    ).localCheckpoint()
    n_docs = int(data.get("total_docs") or len(len_rows))
    avgdl = float(data.get("avg_doc_length") or 0.0)
    return (
        BM25Index(postings, doc_lengths, n_docs, avgdl),
        dict(data.get("config") or {}),
    )


def _read_reference_embeddings_bin(path: str):
    """One reference embeddings file
    (``hybrid_graph_vector.py:537-616``): ``struct('II')`` count+dims
    header, ``struct('I')``-length-prefixed pickled id list (trusted
    input only — same trust model as the reference's own load), then
    the contiguous float32 matrix."""
    import numpy as np

    with open(path, "rb") as f:
        count, dims = struct.unpack("II", f.read(8))
        (id_len,) = struct.unpack("I", f.read(4))
        ids = pickle.loads(f.read(id_len))  # trusted input only
        mat = (
            np.frombuffer(f.read(count * dims * 4), dtype=np.float32).reshape(
                count, dims
            )
            if count
            else np.zeros((0, dims), dtype=np.float32)
        )
    if len(ids) != count:
        raise ValueError(
            f"embeddings header count {count} != id list length {len(ids)}"
        )
    return ids, mat


def import_reference_graph_embeddings(
    db: "VectorDB",
    src_dir: str,
    node_collection: str = "node_embeddings",
    edge_collection: str = "edge_embeddings",
    metric: str = "cosine",
    batch_size: int = 50_000,
):
    """Import a reference graph-vector store's embedding sidecars
    (``node_embeddings.bin`` / ``edge_embeddings.bin``,
    ``hybrid_graph_vector.py:537-616``) into two collections. The
    hnswlib ``node_index.bin``/``edge_index.bin`` files are derived
    data and intentionally ignored (rebuild with ``ann.*``). Returns
    ``{"nodes": Collection | None, "edges": Collection | None}`` —
    entries are None when the corresponding file is absent."""
    out: dict = {"nodes": None, "edges": None}
    for key, fname, cname in (
        ("nodes", "node_embeddings.bin", node_collection),
        ("edges", "edge_embeddings.bin", edge_collection),
    ):
        p = os.path.join(src_dir, fname)
        if not os.path.exists(p):
            continue
        ids, mat = _read_reference_embeddings_bin(p)

        def rows(ids=ids, mat=mat):
            for i, ext_id in enumerate(ids):
                yield {
                    "id": str(ext_id),
                    "embedding": [float(x) for x in mat[i]],
                }

        out[key] = _ingest_rows(
            db, cname, int(mat.shape[1]), metric, rows(), batch_size
        )
    return out


def import_reference_mmap(
    db: "VectorDB",
    src_dir: str,
    name: str,
    metric: str = "cosine",
    batch_size: int = 50_000,
) -> "Collection":
    """Import a reference memory-mapped store
    (``parallel_search.py:441-555``): ``vectors.mmap`` with a 64-byte
    header — ``PYVEC001`` magic then ``<III`` version/n_vectors/dims —
    followed by a contiguous float32 array (possibly over-allocated
    beyond n_vectors), plus ``ids.json`` and ``metadata.json``
    sidecars. The data region is itself read via ``np.memmap``, so the
    import streams chunks without materializing the matrix."""
    import struct as _struct

    import numpy as np

    data_path = os.path.join(src_dir, "vectors.mmap")
    with open(data_path, "rb") as f:
        header = f.read(64)
    if header[:8] != b"PYVEC001":
        raise ValueError(f"invalid mmap store magic: {header[:8]!r}")
    version, n_vectors, dims = _struct.unpack("<III", header[8:20])
    if version != 1:
        raise ValueError(f"unsupported mmap store version {version}")
    ids: list[str] = []
    ids_path = os.path.join(src_dir, "ids.json")
    if os.path.exists(ids_path):
        with open(ids_path) as f:
            ids = json.load(f)
    metadata: dict = {}
    meta_path = os.path.join(src_dir, "metadata.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            metadata = json.load(f)
    if len(ids) < n_vectors:
        # the reference's appender names unnamed rows vec_<i>
        ids = ids + [f"vec_{i}" for i in range(len(ids), n_vectors)]

    def rows():
        if n_vectors == 0:
            return
        mm = np.memmap(
            data_path,
            dtype=np.float32,
            mode="r",
            offset=64,
            shape=(n_vectors, dims),
        )
        for i in range(n_vectors):
            vid = str(ids[i])
            yield {
                **(metadata.get(vid) or {}),
                "id": vid,
                "embedding": [float(x) for x in mm[i]],
            }

    return _ingest_rows(db, name, int(dims), metric, rows(), batch_size)


def import_reference_stream(
    db: "VectorDB",
    src_dir: str,
    name: str,
    metric: str = "cosine",
    batch_size: int = 50_000,
) -> "Collection":
    """Import a reference ``StreamingBinaryWriter`` directory
    (``binary_persistence.py:212-275``): ``header.json``
    (count/dimensions + config), ``ids.pkl``, ``metadata.pkl``, and
    ``vectors_stream.bin`` as a raw float32 append stream in id order.
    Read sequentially in bounded chunks — the same memory profile as
    the reference's ``StreamingBinaryReader.iterate``."""
    import pickle

    import numpy as np

    with open(os.path.join(src_dir, "header.json")) as f:
        header = json.load(f)
    count = int(header["count"])
    dims = int(header["dimensions"])
    with open(os.path.join(src_dir, "ids.pkl"), "rb") as f:
        ids = pickle.load(f)
    metadata: dict = {}
    mp = os.path.join(src_dir, "metadata.pkl")
    if os.path.exists(mp):
        with open(mp, "rb") as f:
            metadata = pickle.load(f)
    if len(ids) != count:
        raise ValueError(
            f"ids.pkl has {len(ids)} entries but header count is {count}"
        )

    def rows():
        with open(os.path.join(src_dir, "vectors_stream.bin"), "rb") as f:
            done = 0
            while done < count:
                n = min(4096, count - done)
                flat = np.fromfile(f, dtype=np.float32, count=n * dims)
                if flat.size != n * dims:
                    raise ValueError(
                        "vectors_stream.bin truncated: expected "
                        f"{count * dims} floats, stream ended at row {done}"
                    )
                mat = flat.reshape(n, dims)
                for j in range(n):
                    vid = str(ids[done + j])
                    yield {
                        **(metadata.get(vid) or {}),
                        "id": vid,
                        "embedding": [float(x) for x in mat[j]],
                    }
                done += n

    return _ingest_rows(db, name, dims, metric, rows(), batch_size)
