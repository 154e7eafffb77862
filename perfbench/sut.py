"""The system under test, run as a fresh process per benchmark run.

``main`` starts Spark, loads the generated inputs, builds the collection
(ingest, serving pack, IVF index), starts the REST server
(``server.serve``) and then answers commands from the benchmark process
over a socket pair.

With tracing on, every call this module makes into a layer's public
function records a span in memory and runs under its own Spark job
group, so the job, stage and task counts of that call can be read back
from ``statusTracker``.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback

COLLECTION = "vecs"


def job_totals(sc, job_ids) -> tuple[int, int, int]:
    """``(jobs, stages, tasks)`` of the given Spark job ids."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        for s in info.stageIds:
            stages += 1
            si = st.getStageInfo(s)
            tasks += si.numTasks if si is not None else 0
    return jobs, stages, tasks


def job_count(sc, start: int = 0) -> int:
    """Number of Spark jobs started so far (job ids are dense)."""
    st = sc.statusTracker()
    n = start
    while st.getJobInfo(n) is not None:
        n += 1
    return n


class Tracer:
    """In-memory spans around calls into the package. Disabled, it only
    times the call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._n = 0

    def call(self, name: str, fn, parent: str | None = None):
        """Run ``fn()``; return ``(result, seconds, tag)``."""
        tag = None
        if self.enabled:
            self._n += 1
            tag = f"{name}#{self._n}"
            self.sc.setJobGroup(tag, name)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            if self.enabled:
                self.sc.setJobGroup("perfbench.idle", "between calls")
                self.spans.append({"name": name, "tag": tag, "parent": parent,
                                   "start": t0, "end": t0 + dt})
        return out, dt, tag

    def stats(self, tag) -> tuple[int, int, int]:
        """``(jobs, stages, tasks)`` of one traced call."""
        if tag is None:
            return 0, 0, 0
        time.sleep(0.2)  # let the listener bus catch up
        return job_totals(self.sc, self.sc.statusTracker().getJobIdsForGroup(tag))


def file_stats(path: str) -> dict[str, tuple[int, int]]:
    """``{file: (bytes, mtime_ns)}`` under ``path``."""
    out = {}
    for root, _, names in os.walk(path):
        for f in names:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """``(bytes, files)`` of files created or rewritten between two
    :func:`file_stats` snapshots."""
    new = [p for p, st in after.items() if before.get(p) != st]
    return sum(after[p][0] for p in new), len(new)


def _median_ms(xs) -> float:
    xs = sorted(xs)
    return 1e3 * xs[len(xs) // 2] if xs else 0.0


class SUT:
    def __init__(self, cfg: dict):
        import numpy as np

        self.cfg = cfg
        self.np = np
        self.phases: dict[str, float] = {}
        t = time.perf_counter()
        from fastpyvectordb_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.phases["spark_start_s"] = time.perf_counter() - t
        self.tracer = Tracer(self.sc, cfg["trace"])
        data = np.load(cfg["inputs"], allow_pickle=False)
        self.data = {k: data[k] for k in data.files}
        self.dims = int(self.data["vectors"].shape[1])

    def _rows_df(self, ids, vectors, category):
        import pyarrow as pa

        emb = pa.FixedSizeListArray.from_arrays(
            pa.array(self.np.ascontiguousarray(vectors, dtype="float32").ravel()),
            self.dims,
        ).cast(pa.list_(pa.float32()))
        return self.spark.createDataFrame(pa.table({
            "id": pa.array([str(i) for i in ids]),
            "embedding": emb,
            "category": pa.array([str(c) for c in category]),
        }))

    def _timed(self, phase: str, fn):
        out, dt, _ = self.tracer.call(phase, fn, parent="setup")
        self.phases[phase] = dt
        return out

    def setup(self) -> None:
        from fastpyvectordb_spark.catalog import VectorDB
        from fastpyvectordb_spark.server import serve

        d = self.data
        self.db = VectorDB(self.spark, self.cfg["db_path"])
        self.db.create_collection(COLLECTION, self.dims, "cosine")
        # the server resolves the collection through this same cached
        # handle, so the pack and index warmed here are the ones it serves
        self.col = self.db.get_collection(COLLECTION)
        batch = self._rows_df(d["ids"], d["vectors"], d["category"])
        self._timed("catalog.insert_batch.bulk", lambda: self.col.insert_batch(batch))
        self._timed("catalog.pack_serving.full", self.col.pack_serving)
        info = self._timed("ann.build_ann_index",
                           lambda: self.col.build_ann_index(**self.cfg["ivf"]))
        self.n_lists = int(info["n_lists"])
        # the first ANN search derives the list assignment from the pack
        self._timed("ann.assign",
                    lambda: self.col.search_ann(d["queries"][0].tolist(), k=10))
        self.srv = serve(self.db, port=0)
        self.srv_thread = threading.Thread(target=self.srv.serve_forever,
                                           daemon=True)
        self.srv_thread.start()

    def jobs(self, start: int = 0) -> dict:
        time.sleep(0.3)  # let the listener bus catch up
        return {"jobs": job_count(self.sc, start)}

    def loop_jobs(self, start: int) -> dict:
        """Jobs, stages and tasks started since job id ``start``."""
        time.sleep(0.3)
        end = job_count(self.sc, start)
        return dict(zip(("jobs", "stages", "tasks"),
                        job_totals(self.sc, range(start, end))))

    # -- per-layer probes (traced runs) -------------------------------------

    def _write_fn(self, w: dict):
        from pyspark.sql import functions as F

        if w["kind"] == "delete":
            return "catalog.delete", lambda: self.col.delete(ids=[w["id"]])
        if w["kind"] == "upsert":
            rows = [{"id": w["id"], "embedding": list(map(float, w["vector"])),
                     "category": w["category"]}]
            name, verb = "catalog.upsert", self.col.upsert
        else:
            rows = [{"id": i, "embedding": list(map(float, v)), "category": c}
                    for i, v, c in zip(w["ids"], w["vectors"], w["category"])]
            name, verb = "catalog.insert_batch", self.col.insert_batch
        batch = self.spark.createDataFrame(rows).select(
            "id", F.col("embedding").cast("array<float>").alias("embedding"),
            "category")
        return name, lambda: verb(batch)

    def serving_layers(self, n_queries: int) -> dict:
        """Driver-resident serving calls, timed one by one."""
        from fastpyvectordb_spark.catalog import VectorDB

        col, tr = self.col, self.tracer
        qs = [q.tolist() for q in self.data["queries"][:n_queries]]
        ids = [str(i) for i in self.data["ids"][:n_queries]]
        out = {
            "catalog.search_local.ms": _median_ms([
                tr.call("catalog.search_local",
                        lambda q=q: col.search_local(q, k=10))[1] for q in qs]),
            "catalog.get_local.ms": _median_ms([
                tr.call("catalog.get_local", lambda i=i: col.get_local([i]))[1]
                for i in ids]),
            "ann.search_ann.ms": _median_ms([
                tr.call("ann.search_ann", lambda q=q: col.search_ann(q, k=10))[1]
                for q in qs]),
        }
        # a second database object holds a cold handle: its first pack
        # is a full build, as after a restart
        fresh = VectorDB(self.spark, self.cfg["db_path"]).get_collection(COLLECTION)
        out["catalog.pack_serving.full_ms"] = 1e3 * tr.call(
            "catalog.pack_serving.full", fresh.pack_serving)[1]
        return out

    def write(self, w: dict) -> dict:
        """One in-process write, then the first pack refresh and ANN
        search after it."""
        q = self.data["queries"][0].tolist()
        name, fn = self._write_fn(w)
        before = file_stats(self.col.path)
        _, dt, tag = self.tracer.call(name, fn)
        nbytes, nfiles = written(before, file_stats(self.col.path))
        refresh = self.tracer.call("catalog.pack_serving.refresh",
                                   self.col.pack_serving)[1]
        after = self.tracer.call("ann.search_ann.after_commit",
                                 lambda: self.col.search_ann(q, k=10))[1]
        return {"name": name, "s": dt, "jobs": self.tracer.stats(tag)[0],
                "bytes": nbytes, "files": nfiles, "refresh_s": refresh,
                "after_commit_s": after}

    def batch_layers(self, category: str, batch_qis: list[int],
                     n_planted: int) -> dict:
        """Distributed reads and batch operators, with their job counts
        and the rows each returned (checked by the benchmark)."""
        import pandas as pd
        import pyarrow as pa

        from fastpyvectordb_spark.embeddings import embed_column, mock_embed_batch
        from fastpyvectordb_spark.operators.bm25 import BM25Index
        from fastpyvectordb_spark.operators.dedup import embedding_neardup_topk
        from fastpyvectordb_spark.operators.fusion import hybrid_search_batch

        np, d, col, tr = self.np, self.data, self.col, self.tracer
        m: dict = {}
        hits: dict = {}

        q = d["queries"][0].tolist()
        rows, dt, tag = tr.call(
            "catalog.search.filtered",
            lambda: col.search(q, k=10, where={"category": category}).collect())
        m["catalog.search.filtered_ms"] = dt * 1e3
        m["catalog.search.spark_jobs"] = tr.stats(tag)[0]
        hits["filtered"] = [(r["id"], float(r["dist"])) for r in rows]

        qs = [d["queries"][i].tolist() for i in batch_qis]
        rows, dt, tag = tr.call(
            "catalog.search_batch", lambda: col.search_batch(qs, k=10).collect())
        m["catalog.search_batch.ms"] = dt * 1e3
        (m["catalog.search_batch.spark_jobs"], m["catalog.search_batch.spark_stages"],
         m["catalog.search_batch.spark_tasks"]) = tr.stats(tag)
        per = [[] for _ in qs]
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            per[int(r["query_id"])].append((r["id"], float(r["dist"])))
        hits["search_batch"] = per

        docs = self.spark.createDataFrame(pd.DataFrame({
            "doc_id": d["doc_ids"].astype("int64"),
            "text": [str(t) for t in d["doc_texts"]],
        }))
        corpus, dt, _ = tr.call(
            "embeddings.embed_column",
            lambda: embed_column(docs, "text", dimensions=self.dims).localCheckpoint())
        m["embeddings.embed_column_s"] = dt
        bm25, dt, _ = tr.call("operators.bm25.build", lambda: BM25Index.build(corpus))
        m["operators.bm25.build_s"] = dt
        texts = [str(t) for t in d["hybrid_texts"]]
        hq = pd.DataFrame({
            "query_id": range(len(texts)),
            "query_vec": list(mock_embed_batch(pd.Series(texts), self.dims)),
            "query_text": texts,
        })
        rows, dt, tag = tr.call(
            "operators.fusion.hybrid_search_batch",
            lambda: hybrid_search_batch(corpus, hq, k=10, bm25_index=bm25).collect())
        m["operators.fusion.hybrid_search_batch_ms"] = dt * 1e3
        m["operators.fusion.hybrid_search_batch.spark_jobs"] = tr.stats(tag)[0]
        hits["hybrid"] = sorted((int(r["query_id"]), int(r["rank"]), int(r["doc_id"]),
                                 float(r["score"])) for r in rows)

        v = d["neardup_vectors"]
        nd = self.spark.createDataFrame(pa.table({
            "vec_id": pa.array(np.arange(len(v), dtype="int64")),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel()), self.dims).cast(pa.list_(pa.float32())),
        })).localCheckpoint()
        rows, dt, tag = tr.call(
            "operators.dedup.embedding_neardup_topk",
            lambda: embedding_neardup_topk(nd, k=n_planted).collect())
        m["operators.dedup.embedding_neardup_topk_s"] = dt
        m["operators.dedup.embedding_neardup_topk.spark_jobs"] = tr.stats(tag)[0]
        hits["neardup"] = [(int(r["id_a"]), int(r["id_b"])) for r in rows]
        return {"metrics": m, "hits": hits}

    def stop(self) -> dict:
        self.srv.shutdown()
        self.srv.server_close()
        return {"spans": self.tracer.spans}


def reopen(cfg: dict, conn) -> None:
    """Restart check: start Spark, report ready, then open the collection
    directory once sent the ids to sample, and send back its count and
    those rows."""
    from fastpyvectordb_spark.catalog import VectorDB
    from fastpyvectordb_spark.session import get_spark

    spark = get_spark(app_name="perfbench-reopen")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        conn.send({"ok": True})
        ids = conn.recv()
        t0 = time.perf_counter()
        col = VectorDB(spark, cfg["db_path"]).get_collection(COLLECTION)
        n = col.count()
        rows = col.get(ids).collect()
        conn.send({"ok": True, "count": n, "reopen_s": time.perf_counter() - t0,
                   "rows": {r["id"]: [float(x) for x in r["embedding"]] for r in rows}})
    finally:
        spark.stop()


def main(conn, cfg: dict) -> None:
    """Build the SUT from ``cfg`` and answer commands on ``conn``."""
    sys.path.insert(0, cfg["root"])
    try:
        if cfg["role"] == "reopen":
            reopen(cfg, conn)
            return
        sut = SUT(cfg)
        sut.setup()
        conn.send({"ok": True, "port": sut.srv.server_address[1],
                   "phases": sut.phases, "n_lists": sut.n_lists})
    except Exception:
        conn.send({"ok": False, "error": traceback.format_exc()})
        return
    try:
        while True:
            msg = conn.recv()
            cmd = msg.pop("cmd")
            try:
                out = getattr(sut, cmd)(**msg)
                conn.send({"ok": True, **out})
            except Exception:
                conn.send({"ok": False, "error": traceback.format_exc()})
            if cmd == "stop":
                break
    finally:
        sut.spark.stop()


if __name__ == "__main__":
    # python3 sut.py FD: FD is this end of the benchmark's socket pair;
    # the first message on it is the configuration
    from multiprocessing.connection import Connection

    conn = Connection(int(sys.argv[1]))
    main(conn, conn.recv())
