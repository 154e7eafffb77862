"""Seeded inputs and the exact NumPy oracle the benchmark checks against.

Everything the system under test receives is generated here from the
``--seed``: a clustered Gaussian-mixture collection with a 16-value
``category`` column, query pools, a seeded write schedule, a synthetic
text corpus for hybrid search and a near-duplicate corpus with planted
near-copies. :class:`Mirror` is a copy of the collection that replays
every acknowledged write, so any read can be checked against the exact
answer at the version it observed.
"""

from __future__ import annotations

import hashlib
import json
import re
from dataclasses import dataclass

import numpy as np

DIMS = 128
K = 10
N_CATEGORIES = 16
ROUND = 6
# tolerance on a rounded cosine distance: the engine scores in float32
# (pack kernels) or float64 (Spark), the oracle in float64, and both
# round to 6 decimals
SCORE_TOL = 5e-6

# Sizes per mode. "full" is what BENCHMARK.json measures; "smoke" runs
# every workload and checker in a few minutes. The batch-operator sizes
# only feed the per-layer probes of a traced run.
SIZES = {
    "full": dict(
        n_vectors=10_000, n_clusters=16, noise=0.1, n_query_pool=256,
        n_lists=64, ivf_iter=3,
        n_docs=1_000, n_vocab=1_000, n_hybrid_queries=16,
        n_neardup=2_000, n_planted=20, batch_queries=8,
        batch_insert_rows=100,
    ),
    "smoke": dict(
        n_vectors=2_000, n_clusters=8, noise=0.1, n_query_pool=64,
        n_lists=16, ivf_iter=3,
        n_docs=200, n_vocab=300, n_hybrid_queries=4,
        n_neardup=500, n_planted=5, batch_queries=4,
        batch_insert_rows=10,
    ),
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per purpose."""
    key = int(hashlib.sha256(stream.encode()).hexdigest()[:8], 16)
    return np.random.default_rng([seed, key])


def _normalize(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def mixture(seed: int, stream: str, n: int, n_clusters: int, noise: float,
            centers: np.ndarray | None = None):
    """``n`` unit vectors drawn around ``n_clusters`` unit centres."""
    rng = _rng(seed, stream)
    if centers is None:
        centers = _normalize(rng.standard_normal((n_clusters, DIMS)))
    lab = rng.integers(0, len(centers), n)
    x = centers[lab] + noise * rng.standard_normal((n, DIMS)).astype(np.float32)
    return _normalize(x), centers


def mock_embed(texts, dims: int = DIMS) -> np.ndarray:
    """The deterministic mock text embedding, re-derived from its
    definition (sha256 seed → Gaussian → unit norm) so the hybrid oracle
    does not depend on the package under test."""
    out = np.empty((len(texts), dims), dtype=np.float64)
    for i, t in enumerate(texts):
        seed = int(hashlib.sha256(str(t).encode()).hexdigest()[:8], 16)
        v = np.random.RandomState(seed).randn(dims).astype(np.float32)
        out[i] = v / np.linalg.norm(v)
    return out


@dataclass
class Inputs:
    seed: int
    mode: str
    ids: np.ndarray  # str, collection ids
    vectors: np.ndarray  # (n, DIMS) float32
    category: np.ndarray  # str
    queries: np.ndarray  # (pool, DIMS) float32, same mixture
    doc_ids: np.ndarray  # int64
    doc_texts: list
    hybrid_texts: list
    neardup_vectors: np.ndarray  # (m, DIMS) float32
    planted: list  # [(base_id, copy_id)]
    sizes: dict

    def save(self, path: str) -> None:
        np.savez(
            path, ids=self.ids, vectors=self.vectors, category=self.category,
            queries=self.queries, doc_ids=self.doc_ids, doc_texts=np.array(self.doc_texts),
            hybrid_texts=np.array(self.hybrid_texts),
            neardup_vectors=self.neardup_vectors,
        )


def make_inputs(seed: int, mode: str = "full") -> Inputs:
    s = SIZES[mode]
    n = s["n_vectors"]
    vectors, centers = mixture(seed, "collection", n, s["n_clusters"], s["noise"])
    queries, _ = mixture(seed, "queries", s["n_query_pool"], 0, s["noise"],
                         centers=centers)
    rng = _rng(seed, "category")
    category = np.array([f"c{j}" for j in rng.integers(0, N_CATEGORIES, n)])
    ids = np.array([f"v{i:07d}" for i in range(n)])

    # text corpus: Zipf-weighted vocabulary, 20-60 tokens per document
    rng = _rng(seed, "docs")
    vocab = np.array([f"w{i}" for i in range(s["n_vocab"])])
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    doc_texts = [
        " ".join(rng.choice(vocab, size=int(rng.integers(20, 61)), p=p))
        for _ in range(s["n_docs"])
    ]
    hybrid_texts = [
        " ".join(rng.choice(vocab[: max(50, len(vocab) // 8)], size=3))
        for _ in range(s["n_hybrid_queries"])
    ]

    # near-dup corpus: the last n_planted rows are tiny perturbations
    # of the first n_planted (cos ≈ 0.9995, far above any natural pair)
    m, n_pl = s["n_neardup"], s["n_planted"]
    nd, _ = mixture(seed, "neardup", m, s["n_clusters"], s["noise"])
    rng = _rng(seed, "planted")
    nd[m - n_pl:] = _normalize(
        nd[:n_pl] + 0.003 * rng.standard_normal((n_pl, DIMS)).astype(np.float32)
    )
    planted = [(i, m - n_pl + i) for i in range(n_pl)]
    return Inputs(
        seed=seed, mode=mode, ids=ids, vectors=vectors, category=category,
        queries=queries, doc_ids=np.arange(s["n_docs"], dtype=np.int64),
        doc_texts=doc_texts, hybrid_texts=hybrid_texts, neardup_vectors=nd,
        planted=planted, sizes=s,
    )


# Five upserts, three batch inserts and two deletes per block, in a fixed
# order: a timed loop of a few seconds then does the same kinds of write
# on every seed, so its figures do not depend on how the kinds fell.
WRITE_BLOCK = ("upsert", "insert_batch", "upsert", "delete", "upsert",
               "insert_batch", "upsert", "delete", "upsert", "insert_batch")


def write_schedule(seed: int, inp: Inputs, n_blocks: int) -> list[dict]:
    """Seeded writes on which none can fail, ``n_blocks`` repeats of
    WRITE_BLOCK: upserts of an existing row, inserts of a batch of new
    rows and deletes of a live row. Upsert and delete targets come from
    disjoint pools of original ids, so no write touches a row another
    write deleted."""
    rng = _rng(seed, "writes")
    n = n_blocks * len(WRITE_BLOCK)
    perm = rng.permutation(len(inp.ids))
    up_pool, del_pool = list(perm[: n]), list(perm[n: 2 * n])
    rows = inp.sizes["batch_insert_rows"]
    kinds = WRITE_BLOCK * n_blocks
    out = []
    for w, kind in enumerate(kinds):
        if kind == "upsert":
            i = int(up_pool.pop())
            v = _normalize(
                inp.vectors[i][None, :]
                + 0.05 * rng.standard_normal((1, DIMS)).astype(np.float32)
            )[0]
            out.append({"kind": "upsert", "id": str(inp.ids[i]), "vector": v,
                        "category": str(inp.category[i])})
        elif kind == "insert_batch":
            src = rng.integers(0, len(inp.ids), rows)
            v = _normalize(
                inp.vectors[src]
                + 0.05 * rng.standard_normal((rows, DIMS)).astype(np.float32)
            )
            out.append({
                "kind": "insert_batch",
                "ids": [f"w{w:05d}_{j:03d}" for j in range(rows)],
                "vectors": v,
                "category": [f"c{j}" for j in rng.integers(0, N_CATEGORIES, rows)],
            })
        else:
            out.append({"kind": "delete", "id": str(inp.ids[int(del_pool.pop())])})
    return out


def write_body(w: dict) -> tuple[str, str, bytes | None]:
    """(method, path suffix, JSON body) of one scheduled write."""
    if w["kind"] == "upsert":
        return "PUT", "vectors", json.dumps({
            "id": w["id"], "vector": w["vector"].tolist(),
            "metadata": {"category": w["category"]},
        }).encode()
    if w["kind"] == "insert_batch":
        return "POST", "vectors/batch", json.dumps({
            "ids": w["ids"], "vectors": w["vectors"].tolist(),
            "metadata": [{"category": c} for c in w["category"]],
        }).encode()
    return "DELETE", f"vectors/{w['id']}", None


class Mirror:
    """Exact copy of the collection, advanced one acknowledged write at a
    time. ``version`` counts the writes applied."""

    def __init__(self, inp: Inputs, writes: list[dict]):
        n = len(inp.ids)
        extra = sum(len(w["ids"]) for w in writes if w["kind"] == "insert_batch")
        self.ids = np.empty(n + extra, dtype=object)
        self.ids[:n] = inp.ids
        self.vec = np.zeros((n + extra, DIMS), dtype=np.float64)
        self.vec[:n] = inp.vectors
        self.cat = np.empty(n + extra, dtype=object)
        self.cat[:n] = inp.category
        self.live = np.zeros(n + extra, dtype=bool)
        self.live[:n] = True
        self.pos = {str(i): j for j, i in enumerate(inp.ids)}
        self.n = n
        self.writes = writes
        self.queries = inp.queries
        self.version = 0

    def advance(self, version: int) -> None:
        while self.version < version:
            w = self.writes[self.version]
            if w["kind"] == "upsert":
                self.vec[self.pos[w["id"]]] = w["vector"]
            elif w["kind"] == "insert_batch":
                for rid, v, c in zip(w["ids"], w["vectors"], w["category"]):
                    self.ids[self.n], self.vec[self.n], self.cat[self.n] = rid, v, c
                    self.live[self.n] = True
                    self.pos[rid] = self.n
                    self.n += 1
            else:
                self.live[self.pos[w["id"]]] = False
            self.version += 1

    def live_count(self) -> int:
        return int(self.live.sum())

    def distances(self, q) -> np.ndarray:
        """Rounded cosine distance to every slot (inf for dead rows).
        Stored vectors are unit-norm, so the dot product suffices."""
        q = np.asarray(q, dtype=np.float64)
        d = np.round(1.0 - (self.vec[: self.n] @ q) / np.linalg.norm(q), ROUND)
        d[~self.live[: self.n]] = np.inf
        return d

    def topk(self, q, k: int = K, category: str | None = None):
        d = self.distances(q)
        if category is not None:
            d = np.where(self.cat[: self.n] == category, d, np.inf)
        cand = np.argpartition(d, min(4 * k, len(d) - 1))[: 4 * k + 1]
        order = cand[np.lexsort((self.ids[cand].astype(str), d[cand]))][:k]
        order = order[np.isfinite(d[order])]
        return [str(i) for i in self.ids[order]], d[order], d

    def check_topk(self, q, got_ids, got_scores, k=K, category=None) -> str | None:
        """None when ``(got_ids, got_scores)`` is a correct top-k, else
        the reason. Tolerant to ties within SCORE_TOL at the k-th rank."""
        want_ids, want_d, d = self.topk(q, k, category)
        if len(got_ids) != len(want_ids):
            return f"{len(got_ids)} hits, expected {len(want_ids)}"
        for rid, s in zip(got_ids, got_scores):
            j = self.pos.get(str(rid))
            if j is None or not np.isfinite(d[j]):
                return f"hit {rid!r} is not a live matching row"
            if abs(d[j] - s) > SCORE_TOL:
                return f"hit {rid!r} scored {s}, exact {d[j]}"
        if np.any(np.diff(np.asarray(got_scores, dtype=float)) < -SCORE_TOL):
            return "hits not ordered by distance"
        if len(want_d):
            kth = want_d[-1]
            must = {w for w, x in zip(want_ids, want_d) if x < kth - SCORE_TOL}
            missing = must - {str(r) for r in got_ids}
            if missing:
                return f"missed {sorted(missing)[:3]}"
        return None

    def recall(self, q, got_ids, k=K) -> float:
        want_ids, _, _ = self.topk(q, k)
        return len(set(want_ids) & {str(r) for r in got_ids}) / max(len(want_ids), 1)

    def vector(self, rid: str):
        j = self.pos.get(rid)
        if j is None or not self.live[j]:
            return None
        return self.vec[j]


# -- hybrid oracle ------------------------------------------------------

_TOKEN = re.compile("[^a-z0-9_]+")
BM25_K1, BM25_B = 1.5, 0.75


def _top(keys: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k smallest ``keys``, ties by id ascending."""
    return np.lexsort((ids, keys))[:k]


def hybrid_oracle(inp: Inputs, k: int = K, alpha: float = 0.5) -> list[list]:
    """Per query, the fused top-k ``[(doc_id, score)]`` of vector and
    BM25 keyword search (each side fetches 5k, max-normalized, weighted
    sum, ties by doc_id) computed in NumPy."""
    fetch = 5 * k
    docs = mock_embed(inp.doc_texts)
    qv = mock_embed(inp.hybrid_texts)
    toks = [[t for t in _TOKEN.split(x.lower()) if t] for x in inp.doc_texts]
    dl = np.array([len(t) for t in toks], dtype=np.float64)
    avgdl = dl.mean()
    tf: dict = {}
    for d, ts in enumerate(toks):
        for t in ts:
            tf.setdefault(t, {}).setdefault(d, 0)
            tf[t][d] += 1
    n_docs = len(toks)
    doc_ids = inp.doc_ids
    out = []
    for qi, text in enumerate(inp.hybrid_texts):
        dist = np.round(1.0 - docs @ qv[qi], ROUND)
        vtop = _top(dist, doc_ids, fetch)
        vmax = dist[vtop].max()
        vs = {int(doc_ids[j]): (1.0 - dist[j] / vmax if vmax > 0 else 1.0)
              for j in vtop}
        score = np.zeros(n_docs)
        qtf: dict = {}
        for t in (t for t in _TOKEN.split(text.lower()) if t):
            qtf[t] = qtf.get(t, 0) + 1
        hit = np.zeros(n_docs, dtype=bool)
        for t, c in qtf.items():
            post = tf.get(t, {})
            df = len(post)
            idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
            for d, f in post.items():
                score[d] += c * idf * f * (BM25_K1 + 1) / (
                    f + BM25_K1 * (1 - BM25_B + BM25_B * dl[d] / avgdl))
                hit[d] = True
        score = np.round(score, ROUND)
        cand = np.flatnonzero(hit)
        ktop = cand[_top(-score[cand], doc_ids[cand], fetch)]
        kmax = score[ktop].max() if len(ktop) else 0.0
        ks = {int(doc_ids[j]): (score[j] / kmax if kmax > 0 else 0.0)
              for j in ktop}
        fused = {
            d: round(alpha * vs.get(d, 0.0) + (1 - alpha) * ks.get(d, 0.0), ROUND)
            for d in set(vs) | set(ks)
        }
        ranked = sorted(fused.items(), key=lambda x: (-x[1], x[0]))[:k]
        out.append(ranked)
    return out
