"""REST shim (S9) end-to-end: the reference server surface
(``server.py:182-449`` routes) driven over real HTTP against the Spark
catalog."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    from fastpyvectordb_spark.catalog import VectorDB
    from fastpyvectordb_spark.server import serve

    db = VectorDB(spark, str(tmp_path_factory.mktemp("restdb")))
    srv = serve(db, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield base
    srv.shutdown()


def _req(base, method, path, payload=None):
    data = json.dumps(payload).encode() if payload is not None else None
    req = urllib.request.Request(
        base + path, data=data, method=method,
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.mark.slow
def test_rest_lifecycle(api):
    status, health = _req(api, "GET", "/health")
    assert status == 200 and health["status"] == "ok"
    from fastpyvectordb_spark.session import blas_threads

    assert health["blas_threads"] == blas_threads()

    status, info = _req(
        api, "POST", "/collections",
        {"name": "docs", "dimensions": 4, "metric": "l2"},
    )
    assert status == 200 and info["dimensions"] == 4

    status, names = _req(api, "GET", "/collections")
    assert names == ["docs"]

    status, r = _req(
        api, "POST", "/collections/docs/vectors/batch",
        {
            "ids": ["a", "b", "c"],
            "vectors": [[0, 0, 0, 1], [0, 0, 1, 0], [1, 0, 0, 0]],
            "metadatas": [{"tag": "x"}, {"tag": "y"}, {"tag": "x"}],
        },
    )
    assert status == 200 and r["count"] == 3

    status, r = _req(
        api, "POST", "/collections/docs/vectors",
        {"id": "d", "vector": [0.9, 0, 0, 0], "metadata": {"tag": "y"}},
    )
    assert status == 200 and r["success"]

    # duplicate id → 400 (reference rejects dup ids, D1)
    status, r = _req(
        api, "POST", "/collections/docs/vectors",
        {"id": "d", "vector": [1, 1, 1, 1]},
    )
    assert status == 400

    status, r = _req(api, "GET", "/collections/docs/vectors/a?include_vector=true")
    assert status == 200 and r["metadata"] == {"tag": "x"}
    assert r["vector"] == [0.0, 0.0, 0.0, 1.0]

    status, r = _req(
        api, "POST", "/collections/docs/search",
        {"vector": [1, 0, 0, 0], "k": 2},
    )
    assert status == 200
    assert [x["id"] for x in r["results"]] == ["c", "d"]
    assert r["results"][0]["score"] == 0.0  # exact match c

    # filtered search: metadata equality (F6 dict form)
    status, r = _req(
        api, "POST", "/collections/docs/search",
        {"vector": [1, 0, 0, 0], "k": 2, "filter": {"tag": "x"}},
    )
    assert [x["id"] for x in r["results"]] == ["c", "a"]

    status, r = _req(
        api, "POST", "/collections/docs/search/batch",
        {"vectors": [[1, 0, 0, 0], [0, 0, 0, 1]], "k": 1},
    )
    assert [x[0]["id"] for x in r["results"]] == ["c", "a"]

    # upsert changes the vector in place
    status, r = _req(
        api, "PUT", "/collections/docs/vectors",
        {"id": "d", "vector": [0, 1, 0, 0], "metadata": {"tag": "z"}},
    )
    assert status == 200
    status, r = _req(api, "GET", "/collections/docs/vectors/d?include_vector=true")
    assert r["vector"] == [0.0, 1.0, 0.0, 0.0] and r["metadata"] == {"tag": "z"}

    status, r = _req(api, "GET", "/collections/docs/ids?limit=2&offset=1")
    assert status == 200 and len(r["ids"]) == 2 and r["count"] == 4

    status, r = _req(api, "DELETE", "/collections/docs/vectors/a")
    assert status == 200
    status, r = _req(api, "GET", "/collections/docs/vectors/a")
    assert status == 404

    status, r = _req(api, "POST", "/admin/save")
    assert status == 200 and r["saved"]

    status, r = _req(api, "DELETE", "/collections/docs")
    assert status == 200
    status, names = _req(api, "GET", "/collections")
    assert names == []


def test_rest_texts_and_embeddings(api):
    status, r = _req(
        api, "POST", "/collections",
        {"name": "texts", "dimensions": 384, "metric": "cosine"},
    )
    assert status == 200

    status, r = _req(
        api, "POST", "/collections/texts/texts",
        {
            "ids": ["t1", "t2"],
            "texts": ["hello world", "spark engine"],
            "metadatas": [{"lang": "en"}, {"lang": "en"}],
        },
    )
    assert status == 200 and r["count"] == 2

    # auto-embedding is the deterministic mock: /embeddings/embed of
    # the same text must equal the stored vector
    status, e = _req(api, "POST", "/embeddings/embed", {"text": "hello world"})
    assert status == 200 and len(e["embedding"]) == 384
    status, v = _req(api, "GET", "/collections/texts/vectors/t1?include_vector=true")
    assert "_document" not in v["metadata"]  # internal keys stripped
    import numpy as np

    assert np.allclose(v["vector"], e["embedding"], atol=1e-6)

    # semantic search via the stored mock embeddings
    status, r = _req(
        api, "POST", "/collections/texts/search",
        {"vector": e["embedding"], "k": 1},
    )
    assert r["results"][0]["id"] == "t1"

    status, r = _req(
        api, "POST", "/embeddings/embed-batch", {"texts": ["a", "b"]}
    )
    assert len(r["embeddings"]) == 2
    status, info = _req(api, "GET", "/embeddings/info")
    assert info["provider"] == "mock"
    _req(api, "DELETE", "/collections/texts")


def test_rest_graph(api):
    for nid, labels, props in [
        ("p1", ["Person"], {"name": "Alice", "age": 30}),
        ("p2", ["Person"], {"name": "Bob", "age": 25}),
        ("c1", ["Company"], {"name": "Acme"}),
    ]:
        status, r = _req(
            api, "POST", "/graph/nodes",
            {"id": nid, "labels": labels, "properties": props},
        )
        assert status == 200, r

    # duplicate node id → 400
    status, r = _req(api, "POST", "/graph/nodes", {"id": "p1"})
    assert status == 400

    for eid, src, dst, etype in [
        ("e1", "p1", "c1", "WORKS_AT"),
        ("e2", "p2", "c1", "WORKS_AT"),
        ("e3", "p1", "p2", "KNOWS"),
    ]:
        status, r = _req(
            api, "POST", "/graph/edges",
            {"id": eid, "from": src, "to": dst, "type": etype},
        )
        assert status == 200, r

    # FK validation (J8)
    status, r = _req(
        api, "POST", "/graph/edges",
        {"id": "e9", "from": "p1", "to": "nope", "type": "KNOWS"},
    )
    assert status == 400

    status, r = _req(api, "GET", "/graph/stats")
    assert r["n_nodes"] == 3 and r["n_edges"] == 3

    status, r = _req(api, "GET", "/graph/nodes?label=Person")
    assert {n["id"] for n in r} == {"p1", "p2"}

    status, r = _req(api, "GET", "/graph/edges?type=WORKS_AT")
    assert {e["id"] for e in r} == {"e1", "e2"}

    status, r = _req(api, "GET", "/graph/neighbors/p1?direction=out")
    assert {n["neighbor_id"] for n in r} == {"c1", "p2"}

    status, r = _req(
        api, "POST", "/graph/query",
        {"query": "MATCH (p:Person) WHERE p.age > 26 RETURN p.name"},
    )
    assert r["rows"] == [["Alice"]]

    status, r = _req(
        api, "POST", "/graph/traverse", {"start_id": "p1", "max_depth": 2}
    )
    assert "p1->p2->c1" in r["paths"]

    status, r = _req(
        api, "POST", "/graph/shortest-path", {"from": "p1", "to": "c1"}
    )
    assert r["found"] and r["path"] == "p1->c1"

    # cascade delete (G1): removing p1 drops e1 and e3
    status, r = _req(api, "DELETE", "/graph/nodes/p1")
    assert status == 200
    status, r = _req(api, "GET", "/graph/stats")
    assert r["n_nodes"] == 2 and r["n_edges"] == 1


def test_rest_concurrent_search(api):
    """The shim serves concurrent searches correctly (reads need no
    lock — each runs an independent DataFrame job)."""
    import concurrent.futures

    status, _ = _req(
        api, "POST", "/collections",
        {"name": "conc", "dimensions": 4, "metric": "l2"},
    )
    assert status == 200
    status, _ = _req(
        api, "POST", "/collections/conc/vectors/batch",
        {
            "ids": [f"v{i}" for i in range(8)],
            "vectors": [[float(i), 0, 0, 0] for i in range(8)],
        },
    )
    assert status == 200

    def hit(i):
        s, r = _req(
            api, "POST", "/collections/conc/search",
            {"vector": [float(i), 0, 0, 0], "k": 1},
        )
        return s, r["results"][0]["id"]

    with concurrent.futures.ThreadPoolExecutor(8) as ex:
        out = list(ex.map(hit, range(8)))
    assert all(s == 200 for s, _ in out)
    assert [rid for _, rid in out] == [f"v{i}" for i in range(8)]
    _req(api, "DELETE", "/collections/conc")


def test_rest_percent_encoded_ids(api):
    """Path segments and query values must be URL-decoded (ADVICE r1):
    ids with spaces/unicode round-trip through GET/DELETE."""
    import urllib.parse

    status, _ = _req(
        api, "POST", "/collections",
        {"name": "enc", "dimensions": 4, "metric": "l2"},
    )
    assert status == 200
    weird = "doc id/α+1"
    status, r = _req(
        api, "POST", "/collections/enc/vectors",
        {"id": weird, "vector": [1, 0, 0, 0], "metadata": {"tag": "t"}},
    )
    assert status == 200 and r["success"]
    quoted = urllib.parse.quote(weird, safe="")
    status, got = _req(api, "GET", f"/collections/enc/vectors/{quoted}")
    assert status == 200 and got["id"] == weird
    status, _ = _req(api, "DELETE", f"/collections/enc/vectors/{quoted}")
    assert status == 200
    status, _ = _req(api, "GET", f"/collections/enc/vectors/{quoted}")
    assert status == 404


def test_rest_validation_and_clobber_guards(api):
    # missing required body field → 400 (not 404)
    status, r = _req(api, "POST", "/collections", {})
    assert status == 400 and "name" in r["detail"]
    # unknown collection → 404 still
    status, _ = _req(api, "GET", "/collections/definitely-missing")
    assert status == 404

    _req(api, "POST", "/collections", {"name": "guard", "dimensions": 3})
    # metadata keys named id/embedding must not clobber the row
    status, r = _req(
        api, "POST", "/collections/guard/vectors/batch",
        {"ids": ["real"], "vectors": [[1, 0, 0]],
         "metadata": [{"id": "evil", "tag": "x"}]},
    )
    assert status == 200
    status, got = _req(api, "GET", "/collections/guard/vectors/real")
    assert status == 200 and got["metadata"]["tag"] == "x"
    # mismatched list lengths → 400, nothing silently dropped
    status, r = _req(
        api, "POST", "/collections/guard/vectors/batch",
        {"ids": ["a", "b"], "vectors": [[0, 1, 0]]},
    )
    assert status == 400 and "mismatch" in r["detail"]
    status, n = _req(api, "GET", "/collections/guard")
    assert n["count"] == 1
    _req(api, "DELETE", "/collections/guard")


def test_rest_find_nodes_property_filter(api):
    _req(api, "POST", "/graph/nodes",
         {"id": "pf1", "labels": ["X"], "properties": {"role": "admin"}})
    _req(api, "POST", "/graph/nodes",
         {"id": "pf2", "labels": ["X"], "properties": {"role": "user"}})
    status, out = _req(api, "GET", "/graph/nodes?label=X&role=admin")
    assert status == 200 and [n["id"] for n in out] == ["pf1"]
    # unknown property → empty result, not every node
    status, out = _req(api, "GET", "/graph/nodes?nosuchprop=1")
    assert status == 200 and out == []
    _req(api, "DELETE", "/graph/nodes/pf1")
    _req(api, "DELETE", "/graph/nodes/pf2")


def test_rest_search_pack_none_falls_to_distributed(api, monkeypatch):
    """ADVICE r5: when pack_serving() returns None (over-threshold or
    race with a concurrent commit), the handler must not score locally
    against the None pack — it falls to the distributed plan."""
    from fastpyvectordb_spark.catalog import Collection

    status, _ = _req(
        api, "POST", "/collections",
        {"name": "nopack", "dimensions": 4, "metric": "l2"},
    )
    assert status == 200
    status, _ = _req(
        api, "POST", "/collections/nopack/vectors/batch",
        {
            "ids": [f"v{i}" for i in range(4)],
            "vectors": [[float(i), 1, 0, 0] for i in range(4)],
        },
    )
    assert status == 200
    monkeypatch.setattr(Collection, "pack_serving", lambda self: None)
    status, r = _req(
        api, "POST", "/collections/nopack/search",
        {"vector": [2.0, 1, 0, 0], "k": 2},
    )
    assert status == 200
    assert [h["id"] for h in r["results"]] == ["v2", "v1"]
    monkeypatch.undo()
    _req(api, "DELETE", "/collections/nopack")


@pytest.mark.slow
def test_rest_search_ann_flag(api):
    """"ann": true routes through the collection IVF index (the
    reference server's always-index regime, opt-in here); results on
    an exhaustive-probe-sized collection match the exact path, and a
    post-index upsert is immediately findable (add_items parity over
    HTTP)."""
    import random

    rng = random.Random(13)
    _req(api, "POST", "/collections", {"name": "annc", "dimensions": 8})
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(150)]
    _req(
        api, "POST", "/collections/annc/vectors/batch",
        {"ids": [f"p{i}" for i in range(150)], "vectors": vecs},
    )
    q = vecs[37]
    s1, exact = _req(
        api, "POST", "/collections/annc/search", {"vector": q, "k": 5}
    )
    s2, ann = _req(
        api, "POST", "/collections/annc/search",
        {"vector": q, "k": 5, "ann": True},
    )
    assert s1 == s2 == 200
    assert ann["results"][0]["id"] == "p37"
    assert {x["id"] for x in ann["results"]} == {
        x["id"] for x in exact["results"]
    }
    # DML then ANN search again: the index must track the commit
    _req(
        api, "POST", "/collections/annc/vectors",
        {"id": "fresh", "vector": q, "metadata": {"tag": "new"}},
    )
    s3, ann2 = _req(
        api, "POST", "/collections/annc/search",
        {"vector": q, "k": 2, "ann": True},
    )
    assert s3 == 200
    ids = [x["id"] for x in ann2["results"]]
    assert "fresh" in ids and "p37" in ids
    meta = {x["id"]: x["metadata"] for x in ann2["results"]}
    assert meta["fresh"] == {"tag": "new"}


def test_rest_search_ann_oversize_distributed(api, monkeypatch):
    """"ann": true on an over-threshold collection serves through the
    distributed probed fallback and enriches via the distributed get —
    no pack exists at this size, results still match exact."""
    import random

    from fastpyvectordb_spark.catalog import Collection

    rng = random.Random(23)
    _req(api, "POST", "/collections", {"name": "bigann", "dimensions": 8})
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(80)]
    _req(
        api, "POST", "/collections/bigann/vectors/batch",
        {
            "ids": [f"b{i}" for i in range(80)],
            "vectors": vecs,
            "metadatas": [{"n": i} for i in range(80)],
        },
    )
    q = vecs[11]
    s0, exact = _req(
        api, "POST", "/collections/bigann/search", {"vector": q, "k": 5}
    )
    assert s0 == 200
    monkeypatch.setattr(Collection, "SERVING_PACK_MAX_FLOATS", 10)
    s1, ann = _req(
        api, "POST", "/collections/bigann/search",
        {"vector": q, "k": 5, "ann": True, "include_vectors": True},
    )
    assert s1 == 200
    got = ann["results"]
    # exhaustive recall isn't guaranteed at default nprobe, but the
    # query IS a stored vector: its own list is always probed first
    assert got[0]["id"] == "b11"
    assert got[0]["metadata"] == {"n": 11}
    assert len(got[0]["vector"]) == 8
    assert {x["id"] for x in got} <= {f"b{i}" for i in range(80)}
    monkeypatch.undo()
    _req(api, "DELETE", "/collections/bigann")


@pytest.mark.slow
def test_rest_concurrent_search_dml_hammer(api):
    """Sustained concurrent exact+ANN searches against live DML over
    real HTTP: every response must be 200 with k well-ordered results.
    Pins the round-6 torn-state fixes (atomic pointer flip, atomic ANN
    serving snapshot, pack-snapshot enrichment) — the pre-fix pointer
    truncation failed this within seconds."""
    import random
    import time as _time

    rng = random.Random(0)
    _req(api, "POST", "/collections", {"name": "hammer", "dimensions": 8})
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(200)]
    _req(
        api, "POST", "/collections/hammer/vectors/batch",
        {"ids": [f"h{i}" for i in range(200)], "vectors": vecs},
    )
    stop = _time.time() + 12
    errs: list = []

    # transient socket drops (ConnectionReset/RemoteDisconnected) are
    # the host's accept-backlog overflowing under a scheduler stall,
    # not the torn-state invariant this test pins — retry those once;
    # HTTP errors and ordering violations stay fatal immediately
    import http.client as _hc

    _transient = (ConnectionResetError, BrokenPipeError,
                  ConnectionAbortedError, _hc.RemoteDisconnected)

    def _req_retry(*a, **kw):
        try:
            return _req(*a, **kw)
        except _transient:
            return _req(*a, **kw)

    def searcher(ann):
        r2 = random.Random(ann)
        while _time.time() < stop and not errs:
            q = [r2.uniform(-1, 1) for _ in range(8)]
            try:
                s, out = _req_retry(
                    api, "POST", "/collections/hammer/search",
                    {"vector": q, "k": 5, "ann": bool(ann)},
                )
                res = out["results"]
                assert s == 200 and len(res) == 5, (s, out)
                ds = [h["score"] for h in res]
                assert ds == sorted(ds), ds
            except Exception as e:  # pragma: no cover - capture
                errs.append(f"searcher(ann={ann}) {e!r}")
                return

    def dml():
        i = 0
        r3 = random.Random(7)
        while _time.time() < stop and not errs:
            i += 1
            try:
                _req_retry(
                    api, "PUT", "/collections/hammer/vectors",
                    {
                        "id": f"hot{i % 5}",
                        "vector": [r3.uniform(-1, 1) for _ in range(8)],
                    },
                )
                if i % 4 == 0:
                    _req_retry(
                        api, "DELETE",
                        f"/collections/hammer/vectors/hot{(i - 2) % 5}",
                    )
            except Exception as e:  # pragma: no cover - capture
                errs.append(f"dml {e!r}")
                return

    threads = [
        threading.Thread(target=searcher, args=(a,)) for a in (0, 1)
    ] + [threading.Thread(target=dml)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    _req(api, "DELETE", "/collections/hammer")


def test_rest_search_ann_ef_search_maps_to_nprobe(api, monkeypatch):
    """VERDICT r6 #5: the reference honors a per-request ``ef_search``
    quality override (server.py:75,373); the ANN route must map it to
    IVF nprobe — higher ef_search → more probes — instead of dropping
    it at the default."""
    import random

    from fastpyvectordb_spark.ann.collection_index import CollectionANN
    from fastpyvectordb_spark.catalog import Collection

    # the mapping itself: monotone, anchored at config-default 50 ≡ 8
    assert Collection.nprobe_from_ef(50) == 8
    assert Collection.nprobe_from_ef(1) == 1
    probes = [Collection.nprobe_from_ef(e) for e in (10, 50, 100, 400)]
    assert probes == sorted(probes) and probes[-1] > probes[0]

    rng = random.Random(5)
    _req(api, "POST", "/collections", {"name": "efc", "dimensions": 8})
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(120)]
    _req(
        api, "POST", "/collections/efc/vectors/batch",
        {"ids": [f"e{i}" for i in range(120)], "vectors": vecs},
    )
    seen: list[int] = []
    orig = CollectionANN.search_one

    def spy(self, query_vec, k=10, nprobe=8, serving=None):
        seen.append(nprobe)
        return orig(self, query_vec, k=k, nprobe=nprobe, serving=serving)

    monkeypatch.setattr(CollectionANN, "search_one", spy)
    q = vecs[11]
    for ef in (10, 50, 400):
        status, _ = _req(
            api, "POST", "/collections/efc/search",
            {"vector": q, "k": 3, "ann": True, "ef_search": ef},
        )
        assert status == 200
    monkeypatch.undo()
    assert seen == [
        Collection.nprobe_from_ef(10),
        Collection.nprobe_from_ef(50),
        Collection.nprobe_from_ef(400),
    ]
    assert seen[0] < seen[-1]
    # and a request at a huge ef_search equals the exact result
    _s, exact = _req(
        api, "POST", "/collections/efc/search", {"vector": q, "k": 5}
    )
    _s2, full = _req(
        api, "POST", "/collections/efc/search",
        {"vector": q, "k": 5, "ann": True, "ef_search": 10_000},
    )
    assert [x["id"] for x in full["results"]] == [
        x["id"] for x in exact["results"]
    ]
    _req(api, "DELETE", "/collections/efc")
