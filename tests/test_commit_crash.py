"""Crash-point matrix for the catalog commit protocol.

For each DML verb a clean run first counts the driver's mutating
filesystem steps (:func:`tests.conftest.crash_injected`). Then, for
every step k, a fresh copy of the same small collection runs the verb
with a simulated process death in place of step k, and a fresh
``VectorDB`` reopens it. Whatever k, the reopened collection must:

- be at the old version or the new one, named by the last entry of a
  dense commit log;
- read exactly the model of that version through ``df()``;
- hold the verb's CDC events exactly once if the version committed,
  and none if it did not;
- serve a pack that agrees with ``df()``;
- take the next commits at once: a delete and re-insert of a row the
  verb wrote, so a commit seq handed out twice shows as a kill that
  fails to suppress that row. No lock file is left to wait on.

The crash points of one verb run on a small thread pool: each thread
crashes its own copy, and the injector counts only its own thread's
calls.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest

import fastpyvectordb_spark.catalog as cat
from fastpyvectordb_spark.catalog import VectorDB

SEED = [(f"a{i}", [float(i), 1.0, 0.0, -1.0]) for i in range(6)]
V1 = [2.0, 2.0, 2.0, 2.0]
V2 = [-1.0, 0.5, 0.25, 3.0]


def _batch(spark, rows):
    # from pandas, so Arrow ships the rows to the JVM: a plain list
    # becomes a Python RDD and every job over it starts Python workers
    import pandas as pd

    pdf = pd.DataFrame({"id": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
    return spark.createDataFrame(pdf, "id string, embedding array<float>")


def _upsert(c, spark, _ctx):
    c.upsert(_batch(spark, [("a0", V1), ("b9", V2)]))


def _restore_prepare(c, spark):
    target = c._current_version()
    c.upsert(_batch(spark, [("a0", V1)]))
    return target


# verb -> (run(c, spark, ctx), id the follow-up commits rewrite,
#          prepare(c, spark) -> ctx on the template, or None)
SCENARIOS = {
    "insert_batch": (
        lambda c, s, _: c.insert_batch(_batch(s, [("b0", V1), ("b1", V2)])),
        "b0", None,
    ),
    "upsert_local": (_upsert, "a0", None),
    "upsert_distributed": (_upsert, "a0", None),
    "delete_scan": (lambda c, s, _: c.delete(ids=["a1", "a2"]), "a1", None),
    "delete_unverified": (
        lambda c, s, _: c.delete(
            ids=["a3", "a4", "ghost"], verify_existing=False
        ),
        "a3", None,
    ),
    "optimize": (lambda c, s, _: c.optimize(), "a0", None),
    "restore": (lambda c, s, ctx: c.restore(ctx), "a0", _restore_prepare),
}


def _open(spark, d):
    return VectorDB(spark, str(d)).get_collection("c")


def _state(c):
    return {r["id"]: [float(x) for x in r["embedding"]] for r in c.df().collect()}


def _events(c):
    return Counter((r["event_type"], r["doc_id"]) for r in c.events_df().collect())


def _assert_pack(c, want, what):
    pack = c.pack_serving()
    assert list(pack["ids"]) == sorted(want), f"pack ids {what}"
    for row, rid in enumerate(pack["ids"]):
        assert [float(x) for x in pack["vmat"][row]] == want[rid], (
            f"pack vector {rid} {what}"
        )


@pytest.mark.parametrize("verb", list(SCENARIOS))
def test_crash_at_every_commit_step(
    spark, tmp_path, monkeypatch, crash_injected, verb
):
    run, touch, prepare = SCENARIOS[verb]
    if verb == "upsert_distributed":
        monkeypatch.setattr(cat, "_LOCAL_DML_MAX_ROWS", 0)
    tmpl = tmp_path / "tmpl"
    c = VectorDB(spark, str(tmpl)).create_collection("c", dimensions=4)
    c.insert_batch(_batch(spark, SEED))
    ctx = prepare(c, spark) if prepare else None
    old_v = c._current_version()
    old_versions = {h["version"] for h in c.history()}
    old_model, old_events = _state(c), _events(c)

    clean = _open(spark, shutil.copytree(tmpl, tmp_path / "clean"))
    with crash_injected(clean.path) as steps:
        run(clean, spark, ctx)
    n_steps = steps["n"]
    assert n_steps > 0 and clean._current_version() != old_v
    new_model = _state(clean)
    verb_events = _events(clean) - old_events

    def crash_at(k):
        d = shutil.copytree(tmpl, tmp_path / f"k{k}")
        c = _open(spark, d)
        with crash_injected(c.path, crash_at=k), pytest.raises(crash_injected.Crash):
            run(c, spark, ctx)
        c = _open(spark, d)
        try:
            cur = c._current_version()
            committed = cur != old_v
            if verb == "restore":
                assert cur in (old_v, ctx), f"pointer {cur}"
            else:
                assert cur == old_v or cur not in old_versions, f"pointer {cur}"
            assert c.history()[-1]["version"] == cur, "tail not logged"
            entries = sorted(  # a crash may leave a temp file behind
                n for n in os.listdir(os.path.join(c.path, "_log"))
                if not n.startswith(".")
            )
            assert entries == [
                f"{s:020d}.json" for s in range(1, len(c.history()) + 1)
            ], "log not dense"
            want = dict(new_model if committed else old_model)
            assert _state(c) == want, "df() is neither version"
            got_events = _events(c) - old_events
            assert got_events == (verb_events if committed else Counter()), (
                f"events {dict(got_events)} (committed={committed})"
            )
            _assert_pack(c, want, "after reopen")
            c.delete(ids=[touch], verify_existing=False)
            c.insert_batch(_batch(spark, [(touch, V2)]))
            want[touch] = V2
            _assert_pack(c, want, "after the next commits")
            assert not os.path.exists(os.path.join(c.path, "_commit.lock"))
        except Exception as ex:  # report every crash point, not the first
            first = str(ex).splitlines()[0] if str(ex) else ""
            return f"k={k}/{n_steps}: {type(ex).__name__}: {first}"
        return None

    with ThreadPoolExecutor(4) as pool:
        failures = [f for f in pool.map(crash_at, range(1, n_steps + 1)) if f]
    assert not failures, f"{verb}: " + "; ".join(failures)


def test_roll_forward_leaves_uncommitted_versions_and_races(
    spark, tmp_path, monkeypatch
):
    """A version dir that never became current may belong to a live
    writer: reopening and vacuum leave its staged events alone. Two
    publishers of one committed version (a writer and a roll-forward)
    land each event file once; the loser's rename finds it gone."""
    c = VectorDB(spark, str(tmp_path)).create_collection("c", dimensions=4)
    c.insert_batch(_batch(spark, SEED))
    n0 = c.events_df().count()
    inflight = os.path.join(c.path, "v_inflight0000", cat._EVENTS_STAGED)
    cat._write_events(inflight, ["x"], "insert", "c")
    c = _open(spark, tmp_path)
    c.vacuum()
    assert os.listdir(inflight) and c.events_df().count() == n0

    vdir = os.path.join(c.path, c._current_version())
    staged = os.path.join(vdir, cat._EVENTS_STAGED)
    cat._write_events(staged, ["y"], "insert", "c")
    seen = os.listdir(staged)  # what the losing publisher listed
    c._publish_staged_events(vdir)
    os.makedirs(staged)
    real = os.listdir
    monkeypatch.setattr(os, "listdir", lambda p: seen if p == staged else real(p))
    c._publish_staged_events(vdir)
    assert c.events_df().count() == n0 + 1
