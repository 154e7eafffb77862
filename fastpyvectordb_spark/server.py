"""Thin REST shim over the catalog (SURVEY §2.1 S9).

Mirrors the reference FastAPI surface (``server.py:182-449``: health,
collection CRUD, vector insert/batch/upsert/get/delete, search,
batch search, ids listing, admin/save) as a stdlib
``ThreadingHTTPServer`` — deliberately framework-free: the engine is
the Spark catalog; the API layer is transport only, exactly the
"thin API layer" stance SURVEY §2.1 prescribes. One driver-side lock
serializes mutations (the reference serializes with an RLock too,
``vectordb_optimized.py:224``); reads go through the same DataFrame
plans as the Python API.

Search responses carry ``score`` = distance (lower is better) like the
reference's vector endpoints, and ``took_ms`` timing
(``server.py:376-389``).
"""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.parse
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from fastpyvectordb_spark.catalog import VectorDB
from fastpyvectordb_spark.session import blas_threads

_INTERNAL = ("id", "embedding")


class _NotFound(Exception):
    """Resource genuinely absent → HTTP 404 (KeyError is reserved for
    missing body fields → 400)."""


def _meta(row: dict) -> dict:
    return {
        k: v
        for k, v in row.items()
        if k not in _INTERNAL and not k.startswith("_") and v is not None
    }


class _Handler(BaseHTTPRequestHandler):
    server_version = "fastpyvectordb-spark/0.1"

    # routes: (method, compiled pattern, handler name)
    ROUTES = [
        ("GET", r"^/health$", "health"),
        ("GET", r"^/$", "health"),
        ("GET", r"^/collections$", "list_collections"),
        ("POST", r"^/collections$", "create_collection"),
        ("GET", r"^/collections/([^/]+)$", "collection_info"),
        ("DELETE", r"^/collections/([^/]+)$", "delete_collection"),
        ("POST", r"^/collections/([^/]+)/vectors$", "insert_vector"),
        ("POST", r"^/collections/([^/]+)/vectors/batch$", "insert_batch"),
        ("PUT", r"^/collections/([^/]+)/vectors$", "upsert_vector"),
        ("GET", r"^/collections/([^/]+)/vectors/([^/]+)$", "get_vector"),
        ("DELETE", r"^/collections/([^/]+)/vectors/([^/]+)$", "delete_vector"),
        ("POST", r"^/collections/([^/]+)/search$", "search"),
        ("POST", r"^/collections/([^/]+)/search/batch$", "search_batch"),
        ("GET", r"^/collections/([^/]+)/ids$", "list_ids"),
        ("POST", r"^/admin/save$", "admin_save"),
        # server_full.py surface: text auto-embed, graph, embeddings
        ("POST", r"^/collections/([^/]+)/texts$", "insert_texts"),
        ("GET", r"^/graph/stats$", "graph_stats"),
        ("POST", r"^/graph/nodes$", "create_node"),
        ("GET", r"^/graph/nodes/([^/]+)$", "get_node"),
        ("GET", r"^/graph/nodes$", "find_nodes"),
        ("DELETE", r"^/graph/nodes/([^/]+)$", "delete_node"),
        ("POST", r"^/graph/edges$", "create_edge"),
        ("GET", r"^/graph/edges/([^/]+)$", "get_edge"),
        ("GET", r"^/graph/edges$", "edges_by_type"),
        ("DELETE", r"^/graph/edges/([^/]+)$", "delete_edge"),
        ("POST", r"^/graph/query$", "graph_query"),
        ("POST", r"^/graph/traverse$", "graph_traverse"),
        ("POST", r"^/graph/shortest-path$", "graph_shortest_path"),
        ("GET", r"^/graph/neighbors/([^/]+)$", "graph_neighbors"),
        ("GET", r"^/embeddings/info$", "embeddings_info"),
        ("POST", r"^/embeddings/embed$", "embed_one"),
        ("POST", r"^/embeddings/embed-batch$", "embed_batch"),
    ]

    def log_message(self, *a):  # quiet
        pass

    # -- plumbing -----------------------------------------------------

    def _send(self, code: int, payload) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        if not n:
            return {}
        return json.loads(self.rfile.read(n))

    def _dispatch(self, method: str) -> None:
        path, _, query = self.path.partition("?")
        # percent-decode query values ('+' == space per form encoding)
        # and path segments, so ids with spaces/unicode round-trip
        self.query = {
            urllib.parse.unquote(k): urllib.parse.unquote_plus(v)
            for k, v in (
                p.split("=", 1) for p in query.split("&") if "=" in p
            )
        }
        for m, pat, name in self.ROUTES:
            if m != method:
                continue
            match = re.match(pat, path)
            if match:
                try:
                    getattr(self, name)(
                        *(urllib.parse.unquote(g) for g in match.groups())
                    )
                except _NotFound as e:
                    self._send(404, {"detail": str(e)})
                except KeyError as e:
                    # a missing REQUIRED body field is a malformed
                    # request (400), not a missing resource (404) —
                    # clients with retry-on-404 semantics must not
                    # misread validation errors
                    self._send(
                        400, {"detail": f"missing required field {e}"}
                    )
                except ValueError as e:
                    self._send(400, {"detail": str(e)})
                except Exception as e:  # surface, don't crash the thread
                    self._send(500, {"detail": f"{type(e).__name__}: {e}"})
                return
        self._send(404, {"detail": f"no route {method} {path}"})

    def do_GET(self):
        self._dispatch("GET")

    def do_POST(self):
        self._dispatch("POST")

    def do_PUT(self):
        self._dispatch("PUT")

    def do_DELETE(self):
        self._dispatch("DELETE")

    # -- handlers -----------------------------------------------------

    @property
    def db(self) -> VectorDB:
        return self.server.db  # type: ignore[attr-defined]

    @property
    def lock(self) -> threading.Lock:
        return self.server.db_lock  # type: ignore[attr-defined]

    def _collection(self, name: str):
        try:
            return self.db.get_collection(name)
        except KeyError as e:
            raise _NotFound(str(e)) from e

    def health(self):
        self._send(
            200,
            {
                "status": "ok",
                "collections": len(self.db.list_collections()),
                "engine": "fastpyvectordb_spark",
                # the driver's parallelism regime: 1 = request threads
                # and explicit pools only; None = BLAS is not OpenBLAS
                "blas_threads": blas_threads(),
            },
        )

    def list_collections(self):
        self._send(200, self.db.list_collections())

    def create_collection(self):
        b = self._body()
        with self.lock:
            c = self.db.create_collection(
                b["name"], int(b["dimensions"]), b.get("metric", "cosine")
            )
        self._send(
            200,
            {
                "name": b["name"],
                "dimensions": c.config.dimensions,
                "metric": c.config.metric,
                "count": c.count(),
            },
        )

    def collection_info(self, name: str):
        c = self._collection(name)
        self._send(
            200,
            {
                "name": name,
                "dimensions": c.config.dimensions,
                "metric": c.config.metric,
                "count": c.count(),
            },
        )

    def delete_collection(self, name: str):
        with self.lock:
            self.db.delete_collection(name)
        self._send(200, {"deleted": name, "success": True})

    def insert_vector(self, name: str):
        b = self._body()
        c = self._collection(name)
        # id optional, as in the reference API (server.py:50-52: the
        # collection generates one) — return whichever was used.
        # `is None`, not truthiness: 0 and "" are legal ids
        vid = b.get("id")
        if vid is None:
            vid = uuid.uuid4().hex
        with self.lock:
            c.insert(b["vector"], vid, b.get("metadata"))
        self._send(200, {"id": vid, "success": True})

    def insert_batch(self, name: str):
        b = self._body()
        c = self._collection(name)
        ids = b.get("ids") or [uuid.uuid4().hex for _ in b["vectors"]]
        # reference batch payloads say "metadata" (server.py:56-59);
        # accept the legacy "metadatas" spelling too
        metas = b.get("metadata") or b.get("metadatas") or [{}] * len(ids)
        if len(ids) != len(b["vectors"]) or len(metas) != len(b["vectors"]):
            raise ValueError(
                f"length mismatch: {len(b['vectors'])} vectors, "
                f"{len(ids)} ids, {len(metas)} metadata entries (zip "
                "would silently drop rows)"
            )
        rows = [
            # metadata first: a user key named id/embedding must not
            # clobber the row's identity or vector
            {**(m or {}), "id": i, "embedding": [float(x) for x in v]}
            for i, v, m in zip(ids, b["vectors"], metas)
        ]
        from pyspark.sql import functions as F

        batch = self.db.spark.createDataFrame(rows).withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        )
        with self.lock:
            n = c.insert_batch(batch)
        self._send(200, {"ids": ids, "count": n, "success": True})

    def upsert_vector(self, name: str):
        b = self._body()
        c = self._collection(name)
        row = {
            **(b.get("metadata") or {}),  # id/embedding must win below
            "id": b["id"],
            "embedding": [float(x) for x in b["vector"]],
        }
        from pyspark.sql import functions as F

        batch = self.db.spark.createDataFrame([row]).withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        )
        with self.lock:
            c.upsert(batch)
        self._send(200, {"id": b["id"], "success": True})

    def get_vector(self, name: str, vec_id: str):
        c = self._collection(name)
        # honor ?include_vector= as the reference server does
        # (server.py:316-330) — FastAPI parses "true"/"1"; mirror that
        want_vec = self.query.get("include_vector", "false").lower() in (
            "true", "1", "yes",
        )
        # pack-backed fast path (round 7): a resident collection serves
        # a GET in O(log N) with ZERO Spark jobs — the reference's
        # dict-get latency regime; only oversize collections pay the
        # bucket-pruned distributed lookup
        rows = c.get_local([vec_id], include_vector=True)
        if rows is None:
            rows = [
                r.asDict()
                for r in c.get([vec_id], include_vector=True).collect()
            ]
        if not rows:
            self._send(404, {"detail": f"id {vec_id!r} not found"})
            return
        row = rows[0]
        payload = {"id": row["id"], "metadata": _meta(row)}
        if want_vec:
            payload["vector"] = [float(x) for x in row["embedding"]]
        self._send(200, payload)

    def delete_vector(self, name: str, vec_id: str):
        c = self._collection(name)
        with self.lock:
            c.delete(ids=[vec_id])
        self._send(200, {"deleted": vec_id, "success": True})

    def _run_search(
        self, c, vector, k, where, include_vectors, ann=False,
        ef_search=None,
    ):
        # opt-in ANN: route through the collection's IVF index (the
        # reference server always serves its hnswlib index, i.e.
        # approximate — here exact stays the default and "ann": true
        # selects the index path; index trains on first use and tracks
        # every commit via the incremental serving pack). ef_search is
        # the reference's per-request quality override (server.py:75,
        # 373) — mapped to nprobe by Collection.nprobe_from_ef; the
        # exact path ignores it (exact needs no quality knob).
        if ann and where is None:
            pack = c.pack_serving()
            hits = c.search_ann(vector, k=k, ef_search=ef_search)
            if hits is not None:
                if pack is not None:
                    return self._enrich_pack_hits(
                        c, pack, hits, include_vectors
                    )
                # oversize collection: search_ann served the distributed
                # probed fallback — enrich through the distributed get
                # (one bounded k-id job; no pack exists at this size)
                return self._enrich_distributed_hits(
                    c, hits, include_vectors
                )
        return self._run_search_exact(c, vector, k, where, include_vectors)

    @staticmethod
    def _enrich_distributed_hits(c, hits, include_vectors):
        dists = {rid: d for rid, d in hits}
        rows = {
            r["id"]: r.asDict()
            for r in c.get(list(dists), include_vector=True).collect()
        }
        out = []
        for rid, dist in hits:  # preserve rank order
            row = rows.get(rid)
            if row is None:  # deleted by a concurrent commit
                continue
            out.append(
                {
                    "id": rid,
                    "score": float(dist),
                    "metadata": _meta(row),
                    **(
                        {"vector": [float(x) for x in row["embedding"]]}
                        if include_vectors
                        else {}
                    ),
                }
            )
        return out

    @staticmethod
    def _enrich_pack_hits(c, pack, hits, include_vectors):
        """Metadata/vector enrichment of (id, dist) hits against the
        handler-held pack snapshot (commit-race-safe). On the exact
        path the hits were scored against this same snapshot; on the
        ANN path search_ann refreshes its own state, so a concurrent
        commit can surface an id the handler's snapshot predates —
        such a hit is skipped rather than KeyErroring the request."""
        tbl, idx = pack["tbl"], pack["rows"]
        out = []
        for rid, dist in hits:
            pos = idx.get(rid)
            if pos is None:
                continue
            row = tbl.slice(pos, 1).to_pylist()[0]
            out.append(
                {
                    "id": rid,
                    "score": float(dist),
                    "metadata": _meta(row),
                    **(
                        {"vector": [float(x) for x in row["embedding"]]}
                        if include_vectors
                        else {}
                    ),
                }
            )
        return out

    def _run_search_exact(self, c, vector, k, where, include_vectors):
        # Unfiltered single-query search serves from the driver-resident
        # pack (Collection.search_local): zero Spark jobs per request —
        # the interactive-serving regime where per-query distributed
        # jobs would pay the ~0.3 s scheduling floor. Metadata/vector
        # enrichment reads the SAME pack. Filtered queries (pre-filter
        # needs the metadata predicate pushed into the scan) and
        # over-threshold collections stay on the distributed plan.
        if where is None:
            # fetch the pack ONCE and score against that same snapshot:
            # under ThreadingHTTPServer a concurrent commit can swap in
            # a new pack between scoring and enrichment, and a hit id
            # deleted in the new version would KeyError on idx[rid]
            # only take the local path when the pack snapshot itself is
            # available: with pack=None, search_local re-fetches
            # internally, and a concurrent commit between the two calls
            # could yield non-None hits against a None handler-local
            # pack (TypeError at pack["tbl"] below)
            pack = c.pack_serving()
            hits = (
                c.search_local(vector, k=k, pack=pack)
                if pack is not None
                else None
            )
            if hits is not None:
                return self._enrich_pack_hits(c, pack, hits, include_vectors)
        # the kNN plan prunes to (id, dist) — the right scan shape; the
        # response's metadata/vector enrichment is a k-row lookup by id
        # afterwards (reference server.py:374-390 returns metadata per
        # hit and vectors on request)
        rows = [r.asDict() for r in c.search(vector, k=k, where=where).collect()]
        detail: dict = {}
        if rows:
            detail = {
                d["id"]: d
                for d in (
                    x.asDict()
                    for x in c.get(
                        [r["id"] for r in rows], include_vector=True
                    ).collect()
                )
            }
        return [
            {
                "id": r["id"],
                "score": float(r["dist"]),
                "metadata": _meta(detail.get(r["id"], {})),
                **(
                    {
                        "vector": [
                            float(x)
                            for x in detail[r["id"]]["embedding"]
                        ]
                    }
                    if include_vectors and r["id"] in detail
                    else {}
                ),
            }
            for r in rows
        ]

    def search(self, name: str):
        b = self._body()
        c = self._collection(name)
        t0 = time.perf_counter()
        ef = b.get("ef_search")
        results = self._run_search(
            c,
            b["vector"],
            int(b.get("k", 10)),
            b.get("filter"),
            bool(b.get("include_vectors", False)),
            ann=bool(b.get("ann", False)),
            ef_search=int(ef) if ef is not None else None,
        )
        self._send(
            200,
            {
                "results": results,
                "took_ms": round((time.perf_counter() - t0) * 1e3, 3),
            },
        )

    def search_batch(self, name: str):
        # ONE kNN job for all queries (K2, catalog.search_batch) plus
        # ONE enrichment lookup across every hit — not 2 jobs per
        # vector as a per-query _run_search loop would cost
        b = self._body()
        c = self._collection(name)
        t0 = time.perf_counter()
        vectors = b["vectors"]
        rows = [
            r.asDict()
            for r in c.search_batch(
                vectors, k=int(b.get("k", 10)), where=b.get("filter")
            ).collect()
        ]
        detail: dict = {}
        hit_ids = sorted({r["id"] for r in rows})
        if hit_ids:
            # pack-backed enrichment when resident (zero extra jobs);
            # distributed bucket-pruned lookup above the threshold
            local = c.get_local(hit_ids)
            detail = {
                d["id"]: d
                for d in (
                    local
                    if local is not None
                    else (x.asDict() for x in c.get(hit_ids).collect())
                )
            }
        out: list[list] = [[] for _ in vectors]
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out[int(r["query_id"])].append(
                {
                    "id": r["id"],
                    "score": float(r["dist"]),
                    "metadata": _meta(detail.get(r["id"], {})),
                }
            )
        self._send(
            200,
            {
                "results": out,
                "took_ms": round((time.perf_counter() - t0) * 1e3, 3),
            },
        )

    def list_ids(self, name: str):
        c = self._collection(name)
        limit = int(self.query.get("limit", 100))
        offset = int(self.query.get("offset", 0))
        self._send(
            200, {"ids": c.list_ids(limit=limit, offset=offset), "count": c.count()}
        )

    def admin_save(self):
        # every mutation commits an immutable version dir — nothing to
        # flush (the reference flushes its in-memory index here)
        self._send(200, {"saved": True, "collections": self.db.list_collections()})

    # -- server_full.py parity: text auto-embed ----------------------

    def insert_texts(self, name: str):
        """Auto-embed texts and insert (``server_full.py:313-346``):
        deterministic mock embedder (``embeddings.py:343-371``
        algorithm), ``_document`` stashed like the Python API."""
        from fastpyvectordb_spark.embeddings import mock_embed_batch

        import pandas as pd

        b = self._body()
        c = self._collection(name)
        texts = b["texts"]
        # uuid defaults, not text_{i}: a per-request counter collides
        # with the previous id-less batch and rejects the whole insert
        ids = b.get("ids") or [uuid.uuid4().hex for _ in texts]
        # same dual spelling as insert_batch: the reference client says
        # "metadata" — dropping it silently loses user data
        metas = b.get("metadata") or b.get("metadatas") or [{}] * len(texts)
        if len(ids) != len(texts) or len(metas) != len(texts):
            raise ValueError(
                f"length mismatch: {len(texts)} texts, {len(ids)} ids, "
                f"{len(metas)} metadata entries (zip would silently "
                "drop rows)"
            )
        vecs = mock_embed_batch(pd.Series(texts), c.config.dimensions)
        rows = [
            # metadata first: a user key named id/embedding/_document
            # must not clobber the row's identity or vector
            {**(m or {}), "id": i, "embedding": v, "_document": t}
            for i, v, t, m in zip(ids, list(vecs), texts, metas)
        ]
        from pyspark.sql import functions as F

        batch = self.db.spark.createDataFrame(rows).withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        )
        with self.lock:
            n = c.insert_batch(batch)
        self._send(200, {"ids": ids, "count": n, "success": True})

    # -- server_full.py parity: graph endpoints -----------------------
    # The graph store here is control-plane sized (the reference's is a
    # pure in-memory dict, graph.py:57-148); rows live driver-side and
    # every READ builds the same DataFrame plans the Python graph API
    # uses (operators/graph.py, cypher.py).

    def _graph_dfs(self):
        import pandas as pd

        spark = self.db.spark
        nodes_rows = self.server.graph_nodes  # type: ignore[attr-defined]
        edges_rows = self.server.graph_edges  # type: ignore[attr-defined]
        # snapshot the dicts UNDER the lock: ThreadingHTTPServer runs
        # writers concurrently and iterating a mutating dict raises
        # "dictionary changed size during iteration" mid-read
        with self.lock:
            node_vals = list(nodes_rows.values())
            edge_vals = list(edges_rows.values())
        nodes_pdf = pd.DataFrame.from_records(
            [
                {"id": r["id"], "labels": r["labels"], **r["properties"]}
                for r in node_vals
            ]
            or [{"id": None, "labels": None}]
        )
        edges_pdf = pd.DataFrame.from_records(
            [
                {
                    "id": r["id"], "src": r["src"], "dst": r["dst"],
                    "type": r["type"], **r["properties"],
                }
                for r in edge_vals
            ]
            or [{"id": None, "src": None, "dst": None, "type": None}]
        )
        nodes = spark.createDataFrame(nodes_pdf).filter("id is not null")
        edges = spark.createDataFrame(edges_pdf).filter("id is not null")
        return nodes, edges

    def graph_stats(self):
        from fastpyvectordb_spark.operators.graph import graph_stats

        nodes, edges = self._graph_dfs()
        row = graph_stats(nodes, edges).head().asDict()
        self._send(200, {k: (v if v is not None else 0) for k, v in row.items()})

    def create_node(self):
        b = self._body()
        store = self.server.graph_nodes  # type: ignore[attr-defined]
        with self.lock:
            if b["id"] in store:
                raise ValueError(f"node {b['id']!r} exists")
            store[b["id"]] = {
                "id": b["id"],
                "labels": list(b.get("labels") or []),
                "properties": dict(b.get("properties") or {}),
            }
        self._send(200, {**store[b["id"]], "success": True})

    def get_node(self, node_id: str):
        store = self.server.graph_nodes  # type: ignore[attr-defined]
        if node_id not in store:
            self._send(404, {"detail": f"node {node_id!r} not found"})
            return
        self._send(200, store[node_id])

    def find_nodes(self):
        """G4/G5 over the DataFrame plan (label + property equality)."""
        from fastpyvectordb_spark.operators.graph import find_nodes

        nodes, _ = self._graph_dfs()
        label = self.query.get("label")
        # every other query param is a property-equality filter (the
        # docstring's G5 contract) — ignoring them silently returned
        # EVERY node for property-filtered queries
        props = {
            k: v for k, v in self.query.items()
            if k not in ("label", "limit", "offset")
        }
        unknown = [k for k in props if k not in nodes.columns]
        if unknown:  # no node carries that property → nothing matches
            self._send(200, [])
            return
        df = find_nodes(nodes, label=label, properties=props or None)
        ids = [r["id"] for r in df.select("id").collect()]
        with self.lock:
            store = self.server.graph_nodes  # type: ignore[attr-defined]
            out = [store[i] for i in ids if i in store]
        self._send(200, out)

    def delete_node(self, node_id: str):
        nodes = self.server.graph_nodes  # type: ignore[attr-defined]
        edges = self.server.graph_edges  # type: ignore[attr-defined]
        with self.lock:
            if node_id not in nodes:
                self._send(404, {"detail": f"node {node_id!r} not found"})
                return
            del nodes[node_id]
            # G1 cascade (graph.py:640-657): drop touching edges
            for eid in [
                e for e, r in edges.items()
                if r["src"] == node_id or r["dst"] == node_id
            ]:
                del edges[eid]
        self._send(200, {"deleted": node_id, "success": True})

    def create_edge(self):
        b = self._body()
        nodes = self.server.graph_nodes  # type: ignore[attr-defined]
        edges = self.server.graph_edges  # type: ignore[attr-defined]
        src, dst = b["from"], b["to"]
        with self.lock:
            # J8 FK validation (graph.py:714-718)
            for nid in (src, dst):
                if nid not in nodes:
                    raise ValueError(f"endpoint node {nid!r} does not exist")
            if b["id"] in edges:
                raise ValueError(f"edge {b['id']!r} exists")
            edges[b["id"]] = {
                "id": b["id"], "src": src, "dst": dst,
                "type": b.get("type", "RELATED"),
                "properties": dict(b.get("properties") or {}),
            }
        self._send(200, {**edges[b["id"]], "success": True})

    def get_edge(self, edge_id: str):
        edges = self.server.graph_edges  # type: ignore[attr-defined]
        if edge_id not in edges:
            self._send(404, {"detail": f"edge {edge_id!r} not found"})
            return
        self._send(200, edges[edge_id])

    def edges_by_type(self):
        edges = self.server.graph_edges  # type: ignore[attr-defined]
        etype = self.query.get("type")
        with self.lock:  # concurrent writers mutate the dict
            out = [
                r for r in edges.values()
                if etype is None or r["type"] == etype
            ]
        self._send(200, out)

    def delete_edge(self, edge_id: str):
        edges = self.server.graph_edges  # type: ignore[attr-defined]
        with self.lock:
            if edge_id not in edges:
                self._send(404, {"detail": f"edge {edge_id!r} not found"})
                return
            del edges[edge_id]
        self._send(200, {"deleted": edge_id, "success": True})

    def graph_query(self):
        """G14: Cypher subset compiled to DataFrame plans."""
        from fastpyvectordb_spark.cypher import cypher_query

        b = self._body()
        nodes, edges = self._graph_dfs()
        df = cypher_query(nodes, edges, b["query"])
        self._send(
            200,
            {
                "columns": df.columns,
                "rows": [list(r) for r in df.collect()],
            },
        )

    def graph_traverse(self):
        from fastpyvectordb_spark.operators.graph import traverse

        b = self._body()
        _, edges = self._graph_dfs()
        df = traverse(
            edges,
            [b["start_id"]],
            max_depth=int(b.get("max_depth", 3)),
            edge_type=b.get("edge_type"),
        )
        self._send(200, {"paths": [r["path"] for r in df.collect()]})

    def graph_shortest_path(self):
        from fastpyvectordb_spark.operators.graph import shortest_path

        b = self._body()
        _, edges = self._graph_dfs()
        df = shortest_path(
            edges, b["from"], b["to"], max_depth=int(b.get("max_depth", 4))
        )
        rows = df.collect()
        self._send(
            200,
            {"path": rows[0]["path"] if rows else None, "found": bool(rows)},
        )

    def graph_neighbors(self, node_id: str):
        from fastpyvectordb_spark.operators.graph import neighbors

        _, edges = self._graph_dfs()
        df = neighbors(
            edges,
            node_id,
            direction=self.query.get("direction", "both"),
            edge_type=self.query.get("type"),
        )
        self._send(200, [r.asDict() for r in df.collect()])

    # -- server_full.py parity: embeddings endpoints ------------------

    def embeddings_info(self):
        self._send(
            200,
            {"provider": "mock", "dimensions": 384, "deterministic": True},
        )

    def embed_one(self):
        from fastpyvectordb_spark.embeddings import mock_embed_batch

        import pandas as pd

        b = self._body()
        dims = int(b.get("dimensions", 384))
        vec = mock_embed_batch(pd.Series([b["text"]]), dims).iloc[0]
        self._send(200, {"embedding": vec, "dimensions": dims})

    def embed_batch(self):
        from fastpyvectordb_spark.embeddings import mock_embed_batch

        import pandas as pd

        b = self._body()
        dims = int(b.get("dimensions", 384))
        vecs = mock_embed_batch(pd.Series(b["texts"]), dims)
        self._send(200, {"embeddings": list(vecs), "dimensions": dims})


def serve(db: VectorDB, host: str = "127.0.0.1", port: int = 8000):
    """Create (not start) a threaded HTTP server bound to ``db``.
    Call ``.serve_forever()`` (typically in a thread) and
    ``.shutdown()`` to stop. Port 0 picks an ephemeral port
    (``server.server_address[1]``)."""
    srv = ThreadingHTTPServer((host, port), _Handler)
    srv.db = db  # type: ignore[attr-defined]
    srv.db_lock = threading.Lock()  # type: ignore[attr-defined]
    srv.graph_nodes = {}  # type: ignore[attr-defined]
    srv.graph_edges = {}  # type: ignore[attr-defined]
    return srv
