"""Model-based DML state machine over the manifest catalog.

A random interleaving of every DML verb plus the maintenance verbs
(optimize / restore / vacuum) runs against a live Collection AND a
pure-Python model; after every step the table contents, the count,
and the driver serving pack — refreshed on the SAME handle, i.e.
through the round-6 incremental delta path whenever the shape allows
— must agree with the model exactly. This is the adversarial pin for
the manifest-chain + deletion-vector + incremental-pack interaction
(checkpoint folds, DV compaction, restore forks, vacuum GC): any
divergence a hand-written scenario missed shows up as a shrunk op
sequence. A ``crash`` step kills a random DML verb before a random
mutating step (tests/conftest.py ``crash_injected``), reopens the
collection, and the model follows wherever the pointer landed."""

from __future__ import annotations

import random
import tempfile
import uuid

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

POOL = [f"id{chr(c)}" for c in range(ord("a"), ord("p"))]  # 15 ids
KINDS = [
    "insert", "upsert", "delete", "optimize", "restore", "vacuum",
    "optimize_ann",  # at-rest ANN clustering (round 6): content-preserving
    "crash",  # a DML verb dies mid-commit; the reopened handle carries on
]

ops_strategy = st.lists(
    st.tuples(st.sampled_from(KINDS), st.integers(0, 10**9)),
    min_size=3,
    max_size=9,
)


def _vec(rng):
    # eighths are exact in float32 → model comparisons are exact
    return [rng.randrange(-16, 17) / 8.0 for _ in range(4)]


def _table_state(c):
    return {
        r["id"]: [float(x) for x in r["embedding"]]
        for r in c.df().collect()
    }


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    # one full-suite run tripped this test and the saved example then
    # replayed GREEN (environment-timing-dependent, not example-
    # dependent) — print the reproduction blob so any future trip is
    # diagnosable from the driver's captured output alone
    print_blob=True,
)
@given(ops=ops_strategy)
@pytest.mark.slow
def test_dml_state_machine_matches_model(spark, crash_injected, ops):
    from fastpyvectordb_spark.catalog import Collection, CollectionConfig

    path = tempfile.mkdtemp() + f"/sm{uuid.uuid4().hex[:8]}"
    cfg = CollectionConfig(dimensions=4, n_buckets=4)
    c = Collection(spark, path, cfg)

    def batch(rows):
        return spark.createDataFrame(
            [(i, v) for i, v in rows], "id string, embedding array<float>"
        )

    # seed state
    rng0 = random.Random(1234)
    model: dict[str, list[float]] = {
        i: _vec(rng0) for i in POOL[:6]
    }
    c.insert_batch(batch(sorted(model.items())))
    snapshots = {c.history()[-1]["version"]: dict(model)}

    def dml(verb, rng):
        """(run, model after it) for one random DML op, or None."""
        if verb == "insert":
            free = sorted(set(POOL) - set(model))
            if not free:
                return None
            ids = rng.sample(free, rng.randint(1, min(3, len(free))))
            rows = [(i, _vec(rng)) for i in sorted(ids)]
            return (lambda: c.insert_batch(batch(rows))), {**model, **dict(rows)}
        if verb == "upsert":
            ids = rng.sample(POOL, rng.randint(1, 3))
            rows = [(i, _vec(rng)) for i in sorted(set(ids))]
            return (lambda: c.upsert(batch(rows))), {**model, **dict(rows)}
        if not model:
            return None
        ids = rng.sample(sorted(model), rng.randint(1, min(3, len(model))))
        return (
            (lambda: c.delete(ids=ids)),
            {i: v for i, v in model.items() if i not in ids},
        )

    for kind, seed in ops:
        rng = random.Random(seed)
        if kind in ("insert", "upsert", "delete"):
            op = dml(kind, rng)
            if op is None:
                continue
            op[0]()
            model = op[1]
        elif kind == "crash":
            op = dml(rng.choice(["insert", "upsert", "delete"]), rng)
            if op is None:
                continue
            before = c._current_version()
            with crash_injected(c.path, crash_at=rng.randint(1, 15)):
                try:
                    op[0]()
                except crash_injected.Crash:
                    pass
            c = Collection(spark, path, cfg)  # the process restarts
            if c._current_version() != before:
                model = op[1]
        elif kind == "optimize":
            c.optimize()
        elif kind == "optimize_ann":
            # clusters files by IVF list id; trains on first use. The
            # rewrite is content-preserving, so the model is unchanged
            # — and the ANN exhaustive-probe search must agree with
            # the model's exact top-k afterwards. optimize refuses an
            # empty collection (same guard as the delete op above).
            if not model:
                continue
            c.optimize(ann_cluster=True, target_partitions=8)
            # pick a non-zero stored vector (cosine self-distance 0);
            # an identical duplicate under another id may win the tie,
            # so assert the zero-distance HIT, not the exact id
            nz = [i for i in sorted(model) if any(model[i])]
            if nz:
                qid = rng.choice(nz)
                st_ = c._ann()
                nl = int(st_.centroids.shape[0])
                got = c.search_ann(model[qid], k=1, nprobe=nl)
                assert got and got[0][1] <= 1e-6, "ann lost a row"
        elif kind == "restore":
            targets = sorted(snapshots)
            v = rng.choice(targets)
            c.restore(v)
            model = dict(snapshots[v])
        elif kind == "vacuum":
            c.vacuum(keep_last=1)
            cur = c._current_version()
            snapshots = {
                v: s for v, s in snapshots.items() if v == cur
            }
        if kind in (
            "insert", "upsert", "delete", "optimize", "restore",
            "optimize_ann", "crash",
        ):
            snapshots[c.history()[-1]["version"]] = dict(model)

        # -- invariants after every step --------------------------
        assert _table_state(c) == model, f"table diverged after {kind}: {ops}"
        assert c.count() == len(model), f"count after {kind}: {ops}"
        pack = c.pack_serving()  # same handle → incremental when possible
        assert pack is not None, f"pack None after {kind}: {ops}"
        assert list(pack["ids"]) == sorted(model), (
            f"pack ids after {kind}: {ops}"
        )
        for row, rid in enumerate(pack["ids"]):
            assert np.allclose(pack["vmat"][row], model[rid]), (
                f"pack vec {rid} after {kind}: {ops}"
            )

    # final: the incrementally-maintained pack equals a cold rebuild
    fresh = Collection(spark, path, cfg)
    fp = fresh.pack_serving()
    ip = c.pack_serving()
    assert list(ip["ids"]) == list(fp["ids"])
    assert np.allclose(ip["vmat"], fp["vmat"])
    assert np.array_equal(ip["seq"], fp["seq"])
