"""Collection-integrated ANN index lifecycle (ref
vectordb_optimized.py:271-309,356,405,474,492: live per-collection
index maintained through DML, persisted across restarts)."""

from __future__ import annotations

import random

import numpy as np
import pytest

from fastpyvectordb_spark.catalog import VectorDB


@pytest.fixture()
def db(spark, tmp_path):
    return VectorDB(spark, str(tmp_path / "anndb"))


def _rows(n, d=8, seed=0, prefix="r"):
    rng = random.Random(seed)
    return [
        (f"{prefix}{i}", [rng.uniform(-1, 1) for _ in range(d)], "A")
        for i in range(n)
    ]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id string, embedding array<float>, category string"
    )


def _mk(db, spark, n=300, seed=0, metric="cosine", name="c"):
    c = db.create_collection(name, dimensions=8, metric=metric)
    c.insert_batch(_batch(spark, _rows(n, seed=seed)))
    return c


@pytest.mark.slow
def test_search_ann_exhaustive_probe_matches_exact(spark, db):
    """nprobe = n_lists probes every list — identical id set to the
    exact serving twin (distances agree to float32 rounding)."""
    c = _mk(db, spark)
    c.build_ann_index(n_lists=8, max_iter=10)
    q = _rows(1, seed=99)[0][1]
    exact = c.search_local(q, k=10)
    ann = c.search_ann(q, k=10, nprobe=8)
    assert ann is not None
    assert {i for i, _ in ann} == {i for i, _ in exact}
    assert np.allclose(
        sorted(d for _, d in ann), sorted(d for _, d in exact), atol=2e-6
    )


def test_search_ann_recall_at_reduced_probe(spark, db):
    """Recall@10 over a query sample stays high at nprobe < n_lists."""
    c = _mk(db, spark, n=500, name="rc")
    c.build_ann_index(n_lists=16, max_iter=20)
    rng = random.Random(3)
    hits = tot = 0
    for _ in range(20):
        q = [rng.uniform(-1, 1) for _ in range(8)]
        exact = {i for i, _ in c.search_local(q, k=10)}
        ann = {i for i, _ in c.search_ann(q, k=10, nprobe=6)}
        hits += len(exact & ann)
        tot += 10
    assert hits / tot >= 0.9


@pytest.mark.slow
def test_search_ann_tracks_dml_without_retrain(spark, db, monkeypatch):
    """Upserted/inserted vectors are findable and deleted ids vanish
    right after the commit, with the trainer booby-trapped — the
    index must refresh via assignment only (the add_items /
    mark_deleted parity path)."""
    from fastpyvectordb_spark.ann.collection_index import CollectionANN

    c = _mk(db, spark, name="dml")
    c.build_ann_index(n_lists=8, max_iter=10)
    q = _rows(1, seed=7)[0][1]
    assert c.search_ann(q, k=5) is not None  # prime serving state

    def boom(self, *a, **kw):
        raise AssertionError("retrain triggered for small drift")

    monkeypatch.setattr(CollectionANN, "train", boom)
    # upsert an exact match for the query → must become the top hit
    c.upsert(_batch(spark, [("hot", list(q), "A")]))
    res = c.search_ann(q, k=5)
    assert res[0][0] == "hot" and res[0][1] == 0.0
    # delete it → gone from results
    c.delete(ids=["hot"])
    res2 = c.search_ann(q, k=5)
    assert all(i != "hot" for i, _ in res2)
    # brand-new insert → findable
    far = [9.0] * 8
    c.insert_batch(_batch(spark, [("newpt", far, "A")]))
    res3 = c.search_ann(far, k=1)
    assert res3[0][0] == "newpt"


@pytest.mark.slow
def test_search_ann_retrains_past_drift_threshold(spark, db, monkeypatch):
    """Churning more than REBUILD_THRESHOLD of the corpus retrains the
    coarse centroids (merge-policy rebuild)."""
    from fastpyvectordb_spark.ann import collection_index as ci

    c = _mk(db, spark, n=100, name="drift")
    c.build_ann_index(n_lists=8, max_iter=5)
    q = _rows(1, seed=11)[0][1]
    assert c.search_ann(q, k=5) is not None
    calls = []
    orig = ci.CollectionANN.train

    def spy(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(ci.CollectionANN, "train", spy)
    # rewrite half the corpus (> 0.3 drift)
    c.upsert(_batch(spark, _rows(50, seed=77)))
    assert c.search_ann(q, k=5) is not None
    assert calls, "expected a retrain after 50% churn"


@pytest.mark.slow
def test_search_ann_persists_across_handles(spark, db, monkeypatch):
    """A fresh handle must serve from the persisted centroids without
    retraining (reference index.bin load)."""
    import fastpyvectordb_spark.ann.collection_index as ci

    c = _mk(db, spark, name="persist")
    c.build_ann_index(n_lists=8, max_iter=10)
    q = _rows(1, seed=5)[0][1]
    want = c.search_ann(q, k=5, nprobe=8)

    from fastpyvectordb_spark.catalog import Collection

    fresh = Collection(spark, c.path, c.config)

    def boom(self, *a, **kw):
        raise AssertionError("fresh handle retrained")

    monkeypatch.setattr(ci.CollectionANN, "train", boom)
    got = fresh.search_ann(q, k=5, nprobe=8)
    assert got == want


def test_search_ann_auto_builds_on_first_use(spark, db):
    c = _mk(db, spark, n=120, name="auto")
    res = c.search_ann(_rows(1, seed=2)[0][1], k=5)
    assert res is not None and len(res) == 5
    import os

    assert os.path.exists(os.path.join(c.path, "_ann", "meta.json"))


@pytest.mark.slow
def test_search_ann_oversize_serves_distributed(spark, db):
    """Above the serving-pack threshold ann search stays available:
    the same centroids run as a compute-pruned distributed probed
    scan. Exhaustive probes == the exact distributed top-k; the batch
    shape agrees with singles."""
    import fastpyvectordb_spark.catalog as cat

    c = _mk(db, spark, n=60, name="big")
    c.build_ann_index(n_lists=4, max_iter=5)
    q = _rows(1, seed=5)[0][1]
    exact = [i for i, _ in c.search_local(q, k=5)]
    old = cat.Collection.SERVING_PACK_MAX_FLOATS
    try:
        cat.Collection.SERVING_PACK_MAX_FLOATS = 10
        del c._serving_pack
        c._ann()._serving = None
        got = c.search_ann(q, k=5, nprobe=4)  # exhaustive probes
        assert got is not None and [i for i, _ in got] == exact
        bat = c.search_ann_batch([q, q], k=5, nprobe=4)
        assert list(bat[bat.query_id == 1]["id"]) == exact
        assert list(bat["rank"][:5]) == [1, 2, 3, 4, 5]
    finally:
        cat.Collection.SERVING_PACK_MAX_FLOATS = old


def test_search_ann_batch_matches_singles(spark, db):
    c = _mk(db, spark, n=200, name="bat", metric="l2")
    c.build_ann_index(n_lists=8, max_iter=10)
    qs = [r[1] for r in _rows(4, seed=31, prefix="q")]
    bat = c.search_ann_batch(qs, k=5, nprobe=8)
    assert bat is not None
    for i, q in enumerate(qs):
        single = c.search_ann(q, k=5, nprobe=8)
        sub = bat[bat.query_id == i]
        assert list(sub["id"]) == [s[0] for s in single]
        assert np.allclose(sub["dist"].to_numpy(), [s[1] for s in single])


def test_serving_snapshot_survives_concurrent_retrain(spark, db):
    """ThreadingHTTPServer contract: a handler that obtained the
    (packed, labels, version) snapshot from ensure() keeps searching a
    CONSISTENT pack+labels pair even if another thread retrains (which
    nulls the published state) between ensure() and search_batch()."""
    import pandas as pd

    c = _mk(db, spark, n=200, name="snap")
    c.build_ann_index(n_lists=8, max_iter=10)
    st = c._ann()
    serving = st.ensure()
    assert serving is not None
    want = c.search_ann(_rows(1, seed=7)[0][1], k=5, nprobe=8)

    # another thread retrains: the published serving state is dropped
    c.build_ann_index(n_lists=8, max_iter=10)
    assert st._serving is None

    # the held snapshot still serves, values unchanged
    qpdf = pd.DataFrame(
        {"query_id": [0], "query_vec": [list(_rows(1, seed=7)[0][1])]}
    )
    res = st.search_batch(qpdf, k=5, nprobe=8, serving=serving)
    assert list(res["id"]) == [i for i, _ in want]

    # and the public path re-derives fresh state transparently
    again = c.search_ann(_rows(1, seed=7)[0][1], k=5, nprobe=8)
    assert [i for i, _ in again] == [i for i, _ in want]


@pytest.mark.slow
def test_ensure_publishes_atomically_under_threads(spark, db):
    """Hammer search_ann from N threads while DML commits land: every
    result must be internally consistent (ids exist in the collection,
    k results, sorted distances) — no torn pack/labels pairing, no
    AttributeError from a mid-retrain None state."""
    import threading

    c = _mk(db, spark, n=150, name="thr")
    c.build_ann_index(n_lists=8, max_iter=5)
    q = _rows(1, seed=11)[0][1]
    errs: list = []

    def searcher():
        try:
            for _ in range(12):
                res = c.search_ann(q, k=5, nprobe=8)
                assert res is not None and len(res) == 5
                ds = [d for _, d in res]
                assert ds == sorted(ds)
        except Exception as e:  # pragma: no cover - failure capture
            errs.append(e)

    threads = [threading.Thread(target=searcher) for _ in range(4)]
    for t in threads:
        t.start()
    for i in range(3):
        c.upsert(_batch(spark, _rows(5, seed=40 + i, prefix=f"n{i}_")))
    for t in threads:
        t.join()
    assert not errs, errs


@pytest.mark.slow
def test_search_ann_distributed_reduced_probe_recall(spark, db):
    """The distributed fallback at nprobe < n_lists keeps high recall
    (same coarse-quantizer geometry as the packed path)."""
    import fastpyvectordb_spark.catalog as cat

    c = _mk(db, spark, n=400, name="bigrec", seed=4)
    c.build_ann_index(n_lists=16, max_iter=20)
    rng = random.Random(9)
    queries = [
        [rng.uniform(-1, 1) for _ in range(8)] for _ in range(6)
    ]
    exact = [
        {i for i, _ in c.search_local(q, k=10)} for q in queries
    ]
    old = cat.Collection.SERVING_PACK_MAX_FLOATS
    try:
        cat.Collection.SERVING_PACK_MAX_FLOATS = 10
        del c._serving_pack
        c._ann()._serving = None
        hits = tot = 0
        for q, ex in zip(queries, exact):
            got = {i for i, _ in c.search_ann(q, k=10, nprobe=6)}
            hits += len(got & ex)
            tot += 10
        assert hits / tot >= 0.9, hits / tot
    finally:
        cat.Collection.SERVING_PACK_MAX_FLOATS = old


@pytest.mark.slow
def test_optimize_ann_cluster_file_skipping(spark, db):
    """optimize(ann_cluster=True) stores the IVF list id as a hidden
    column, splits files by list range, and the distributed fallback
    prunes files from footer stats — results stay exact, the public
    schema stays clean, DML erodes gracefully, a retrain invalidates
    the stats."""
    import fastpyvectordb_spark.catalog as cat

    c = _mk(db, spark, n=400, name="clust")
    c.build_ann_index(n_lists=8, max_iter=10)
    q = _rows(1, seed=21)[0][1]
    exact = [i for i, _ in c.search_local(q, k=5)]

    c.optimize(ann_cluster=True, target_partitions=64)
    st = c._ann()
    assert st._stats_usable()
    ver = c._current_version()
    files, _ = c._resolve(ver)
    ranges = st._file_list_ranges(files)
    assert ranges, "clustered files must carry _ann_list stats"
    # range-split files cover strict sub-intervals of the 8 lists
    assert any(hi - lo < 7 for lo, hi in ranges.values())
    # a 2-probe plan skips at least one file
    probes = {0, 1}
    keep = [
        f for f in files
        if f not in ranges
        or any(ranges[f][0] <= p <= ranges[f][1] for p in probes)
    ]
    assert len(keep) < len(files)
    assert "_ann_list" not in c.df().columns  # hidden like _seq

    old = cat.Collection.SERVING_PACK_MAX_FLOATS
    try:
        cat.Collection.SERVING_PACK_MAX_FLOATS = 10
        c.__dict__.pop("_serving_pack", None)
        st._serving = None
        got = c.search_ann(q, k=5, nprobe=8)  # exhaustive == exact
        assert [i for i, _ in got] == exact
        # DML erosion: a new row lands in an unclustered (stat-less)
        # file and must still be findable at any probe width
        c.upsert(_batch(spark, [("fresh", list(q), "A")]))
        got2 = c.search_ann(q, k=1, nprobe=2)
        assert got2[0][0] == "fresh"
    finally:
        cat.Collection.SERVING_PACK_MAX_FLOATS = old

    # a retrain changes the geometry: stats must stop being used
    c.build_ann_index(n_lists=8, max_iter=10)
    assert not st._stats_usable()


def test_optimize_ann_cluster_rejects_zorder_combo(spark, db):
    import pytest

    c = _mk(db, spark, n=50, name="combo")
    c.build_ann_index(n_lists=4, max_iter=5)
    with pytest.raises(ValueError):
        c.optimize(ann_cluster=True, zorder_by=["category"])


def test_optimize_ann_cluster_no_spurious_retrain(spark, db, monkeypatch):
    """The rewrite re-stamps every row's _seq; without the watermark
    refresh the next ensure() would read 100% drift and retrain."""
    from fastpyvectordb_spark.ann.collection_index import CollectionANN

    c = _mk(db, spark, n=200, name="nostale")
    c.build_ann_index(n_lists=8, max_iter=10)
    c.optimize(ann_cluster=True, target_partitions=32)

    def boom(self, *a, **kw):
        raise AssertionError("optimize must not cause a retrain")

    monkeypatch.setattr(CollectionANN, "train", boom)
    q = _rows(1, seed=13)[0][1]
    res = c.search_ann(q, k=5)
    assert res is not None and len(res) == 5


@pytest.mark.slow
def test_list_id_udf_matches_codegen(spark, db):
    """The vectorized assignment kernel (large-centroid path) agrees
    with the codegen argmin on non-boundary data."""
    from pyspark.sql import functions as F

    from fastpyvectordb_spark.ann.kmeans import _assign_udf, _list_id_expr

    c = _mk(db, spark, n=200, name="udfassign", seed=6)
    c.build_ann_index(n_lists=8, max_iter=10)
    st = c._ann()
    df = c.df()
    both = df.select(
        _list_id_expr(F.col("embedding"), st.centroids).alias("a"),
        _assign_udf(st.centroids)(F.col("embedding")).alias("b"),
    )
    assert both.filter(F.col("a") != F.col("b")).count() == 0


def test_optimize_ann_cluster_empty_collection_refuses(spark, db):
    import pytest

    c = db.create_collection("emptyclust", dimensions=8)
    with pytest.raises(ValueError, match="non-empty"):
        c.optimize(ann_cluster=True)


@pytest.mark.slow
def test_ann_lifecycle_state_machine(spark, tmp_path):
    """Adversarial pin for the whole index lifecycle: random
    interleavings of DML, at-rest clustering, drop and rebuild — after
    EVERY op an exhaustive-probe search_ann must return the exact
    top-k (same ids as the exact serving twin), and the index must
    auto-recover from a drop."""
    import random as _random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    KINDS = ["insert", "upsert", "delete", "optimize_ann", "drop", "search"]

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        ops=st.lists(
            st.tuples(st.sampled_from(KINDS), st.integers(0, 10**9)),
            min_size=3,
            max_size=7,
        )
    )
    def run(ops):
        import uuid as _uuid

        db = VectorDB(spark, str(tmp_path / f"lc{_uuid.uuid4().hex[:8]}"))
        c = db.create_collection("lc", dimensions=8)
        c.insert_batch(_batch(spark, _rows(40, seed=1)))
        c.build_ann_index(n_lists=4, max_iter=5)
        live = {f"r{i}" for i in range(40)}
        for kind, seed in ops:
            rng = _random.Random(seed)
            if kind == "insert":
                nid = f"n{seed % 10**6}"
                if nid in live:
                    continue
                c.insert_batch(
                    _batch(spark, [(nid, _rows(1, seed=seed)[0][1], "A")])
                )
                live.add(nid)
            elif kind == "upsert":
                uid = rng.choice(sorted(live))
                c.upsert(
                    _batch(spark, [(uid, _rows(1, seed=seed)[0][1], "A")])
                )
            elif kind == "delete":
                if len(live) <= 5:
                    continue
                victim = rng.choice(sorted(live))
                c.delete(ids=[victim])
                live.discard(victim)
            elif kind == "optimize_ann":
                c.optimize(ann_cluster=True, target_partitions=8)
            elif kind == "drop":
                c.drop_ann_index()
            # invariant: exhaustive-probe ann == exact serving twin
            # (auto_build recovers a dropped index transparently)
            q = _rows(1, seed=seed + 7)[0][1]
            st_ = c._ann()
            ex = [i for i, _ in c.search_local(q, k=5)]
            nl = (
                int(st_.centroids.shape[0])
                if st_.centroids is not None
                else 64
            )
            got = c.search_ann(q, k=5, nprobe=nl)
            assert got is not None
            assert [i for i, _ in got] == ex, f"diverged after {kind}"

    run()


@pytest.mark.slow
def test_retrain_without_commit_invalidates_cluster_stats(spark, db):
    """ADVICE r6: the clustered-stats marker used to key on
    train_version (a version STRING) — a retrain with no intervening
    commit reused the version, so stale footer stats from the old
    centroid geometry stayed 'usable' and file-skipping silently
    dropped true neighbors. The marker now keys on centroid identity
    (train_nonce, regenerated inside every train())."""
    import fastpyvectordb_spark.catalog as cat

    c = _mk(db, spark, n=300, name="noncecheck")
    c.build_ann_index(n_lists=8, max_iter=10)
    c.optimize(ann_cluster=True, target_partitions=64)
    st = c._ann()
    assert st._stats_usable()
    ver = c._current_version()

    # retrain immediately — NO commit in between: version unchanged,
    # centroids replaced
    c.build_ann_index(n_lists=8, max_iter=10, seed=7)
    assert c._current_version() == ver
    assert not st._stats_usable(), (
        "stale clustering stats validated across a same-version retrain"
    )

    # and the distributed probed path (which consults the stats) still
    # returns the exact top-k at exhaustive probe width
    q = _rows(1, seed=33)[0][1]
    exact = [i for i, _ in c.search_local(q, k=5)]
    old = cat.Collection.SERVING_PACK_MAX_FLOATS
    try:
        cat.Collection.SERVING_PACK_MAX_FLOATS = 10
        c.__dict__.pop("_serving_pack", None)
        st._serving = None
        got = c.search_ann(q, k=5, nprobe=8)
        assert [i for i, _ in got] == exact
    finally:
        cat.Collection.SERVING_PACK_MAX_FLOATS = old


def test_drop_race_serves_held_snapshot_and_misses_cleanly(spark, db):
    """ADVICE r6: a concurrent drop_ann_index() between ensure() and
    search must neither crash a held snapshot (meta now rides inside
    the serving tuple) nor 500 the distributed path (one-shot
    centroids/meta snapshot → clean None miss)."""
    import pandas as pd

    c = _mk(db, spark, n=150, name="droprace")
    c.build_ann_index(n_lists=8, max_iter=10)
    st = c._ann()
    serving = st.ensure()
    assert serving is not None
    q = _rows(1, seed=5)[0][1]
    want = c.search_ann(q, k=5, nprobe=8)

    c.drop_ann_index()  # nulls centroids/meta/_serving

    # held snapshot still serves identically (no TypeError on meta)
    qpdf = pd.DataFrame({"query_id": [0], "query_vec": [list(q)]})
    res = st.search_batch(qpdf, k=5, nprobe=8, serving=serving)
    assert list(res["id"]) == [i for i, _ in want]

    # distributed paths on the dropped state miss cleanly
    assert st.search_distributed([q], k=5) is None
    assert st.search_distributed_batch([q], k=5) is None


@pytest.mark.slow
def test_optimize_ann_cluster_warns_below_break_even(spark, db):
    """VERDICT r6 #4: below the sizing break-even (files-per-bucket ≤
    default nprobe) the clustering rewrite can't pay for itself — the
    API must say so instead of letting a user pay seconds of rewrite
    for slower queries."""
    import warnings

    import fastpyvectordb_spark.catalog as cat

    c = _mk(db, spark, n=120, name="sizing")
    c.build_ann_index(n_lists=4, max_iter=5)
    # small target: fpb = ceil(8 / n_buckets) = 1 ≤ break-even → warn
    with pytest.warns(UserWarning, match="break-even"):
        c.optimize(ann_cluster=True, target_partitions=8)
    # big target: fpb above the break-even → silent
    big = (cat._ANN_CLUSTER_MIN_FPB + 1) * c.config.n_buckets
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        c.optimize(ann_cluster=True, target_partitions=big)


def test_config_ef_search_sets_default_probe_width(spark, db):
    """Reference parity (vectordb_optimized.py:191-200): the
    collection's configured ef_search governs searches unless a
    per-request override is given — search_ann with no nprobe must
    probe nprobe_from_ef(config.ef_search)."""
    import pandas as pd

    from fastpyvectordb_spark.ann.collection_index import CollectionANN
    from fastpyvectordb_spark.catalog import Collection

    c = db.create_collection("efdefault", dimensions=8, ef_search=200)
    c.insert_batch(_batch(spark, _rows(100, seed=8)))
    c.build_ann_index(n_lists=8, max_iter=5)
    seen = []
    orig = CollectionANN.search_one

    def spy(self, query_vec, k=10, nprobe=8, serving=None):
        seen.append(nprobe)
        return orig(self, query_vec, k=k, nprobe=nprobe, serving=serving)

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(CollectionANN, "search_one", spy)
        q = _rows(1, seed=9)[0][1]
        c.search_ann(q, k=3)  # no nprobe, no ef_search → config default
        c.search_ann(q, k=3, ef_search=50)  # per-request override wins
        c.search_ann(q, k=3, nprobe=2)  # explicit nprobe respected
    finally:
        mp.undo()
    assert seen == [Collection.nprobe_from_ef(200),
                    Collection.nprobe_from_ef(50), 2]


@pytest.mark.slow
def test_search_one_matches_batch_rows(spark, db):
    """The pandas-free single-query serving path (round 7,
    ivf_search_local_one) must return exactly search_batch's rows —
    same ids, same order, same rounded distances — across metrics and
    random queries."""
    import random as _r

    import pandas as pd

    for metric in ("cosine", "l2", "ip"):
        c = _mk(db, spark, n=250, name=f"one_{metric}", metric=metric)
        c.build_ann_index(n_lists=8, max_iter=5)
        st = c._ann()
        serving = st.ensure()
        rng = _r.Random(11)
        for _ in range(8):
            q = [rng.uniform(-1, 1) for _ in range(8)]
            one = st.search_one(q, k=7, nprobe=4, serving=serving)
            qpdf = pd.DataFrame({"query_id": [0], "query_vec": [q]})
            bat = st.search_batch(qpdf, k=7, nprobe=4, serving=serving)
            want = [
                (str(i), float(d)) for i, d in zip(bat["id"], bat["dist"])
            ]
            assert one == want, f"{metric} diverged"


@pytest.mark.slow
def test_ann_on_single_row_collection(spark, db):
    """Round-7 state-machine catch: a collection DML'd down to ONE row
    used to crash optimize(ann_cluster=True) / build_ann_index with
    MLlib 'KMeans k=1 invalid' (n_lists clamps to the row count).
    n_lists < 2 now trains the single centroid as the column mean."""
    import warnings

    c = _mk(db, spark, n=4, name="tiny")
    c.delete(ids=["r0", "r1", "r2"])  # one row left
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # break-even sizing note
        c.optimize(ann_cluster=True, target_partitions=8)
    got = c.search_ann(_rows(4, seed=0)[3][1], k=1, nprobe=1)
    assert got and got[0][0] == "r3" and got[0][1] <= 1e-6
    # and through the explicit builder too
    c.build_ann_index(n_lists=1, max_iter=5)
    got2 = c.search_ann(_rows(4, seed=0)[3][1], k=1)
    assert got2 and got2[0][0] == "r3"


def test_legacy_index_load_survives_readonly_dir(spark, db, monkeypatch):
    """ADVICE r7: load() mints a train_nonce for legacy meta (pre-
    nonce layout) and persists it best-effort — when the index dir is
    read-only (save raises OSError) the load must still succeed and
    serve with the in-memory nonce instead of failing the read."""
    import json
    import os

    from fastpyvectordb_spark.ann.collection_index import CollectionANN

    c = _mk(db, spark, n=120, name="rolegacy")
    c.build_ann_index(n_lists=4, max_iter=5)
    mp = os.path.join(c._ann()._dir, "meta.json")
    with open(mp) as f:
        meta = json.load(f)
    meta.pop("train_nonce", None)
    with open(mp, "w") as f:
        json.dump(meta, f)

    def ro_save(self):
        raise OSError("read-only filesystem")

    monkeypatch.setattr(CollectionANN, "save", ro_save)
    fresh = CollectionANN(c)
    assert fresh.load() is True
    assert fresh.meta.get("train_nonce")  # minted in memory
    monkeypatch.undo()

    # and a normal (writable) legacy load persists the minted nonce
    fresh2 = CollectionANN(c)
    assert fresh2.load() is True
    with open(mp) as f:
        assert json.load(f).get("train_nonce") == fresh2.meta["train_nonce"]


def test_distributed_batch_probe_attach_is_hash_join(spark, db):
    """Round-11 plan pin: the batch fallback's (query × probed-list)
    attach must be an equi-join (BroadcastHashJoin) on the list id —
    the old array_contains(probes, _lid) condition planned a
    BroadcastNestedLoopJoin whose predicate-eval cost grows with the
    batch size."""
    c = _mk(db, spark, n=200, name="planfb", metric="l2")
    c.build_ann_index(n_lists=8, max_iter=10)
    st = c._ann()
    qs = [r[1] for r in _rows(3, seed=17, prefix="pq")]
    plan_df = st._distributed_batch_plan(qs, k=5, nprobe=4)
    plan = spark._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_fallback_above_codegen_clamp_uses_arrow_assigner(spark, db):
    """Round-12 pin (VERDICT r11 #3): list counts above the old 256
    clamp must route list assignment through the Arrow-GEMM pandas_udf
    (no Janino mega-expression in the plan) while the probe attach
    stays an equi-join, and the probed result must agree with the
    exhaustive-probe result on the common prefix."""
    c = _mk(db, spark, n=600, name="bigls", metric="l2")
    c.build_ann_index(n_lists=300, max_iter=5)
    st = c._ann()
    assert st.meta["n_lists"] == 300
    # 300 centroids x 8 dims = 2,400 floats > _CODEGEN_MAX_CENTROID_FLOATS
    qs = [r[1] for r in _rows(3, seed=23, prefix="bq")]
    plan_df = st._distributed_batch_plan(qs, k=5, nprobe=8)
    plan = spark._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    # assignment parity: exhaustive probing must return the true top-1
    # (every list scanned), and a narrow probe must agree on rank 1
    full = st.search_distributed_batch(qs, k=3, nprobe=300)
    probed = st.search_distributed_batch(qs, k=3, nprobe=60)
    f1 = full[full["rank"] == 1].set_index("query_id")["id"]
    p1 = probed[probed["rank"] == 1].set_index("query_id")["id"]
    assert (f1 == p1).all()


def test_auto_n_lists_uncapped_formula(spark, db):
    """train(n_lists=None) sizes to sqrt(N) clamped to the row count —
    the r11 256 ceiling is gone (ivf_build's 65,536 cap applies)."""
    c = _mk(db, spark, n=120, name="autols", metric="l2")
    st = c._ann()
    meta = st.train(n_lists=None, max_iter=2, train_rows=None)
    # sqrt(120) ~ 11 -> within [8, 65536], clamped only by N
    assert meta["n_lists"] == 11
