"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q            # all, a few minutes
    python3 -m pytest perfbench/test_perfbench.py -q -m "not slow"

The slow tests run every workload, untraced and traced, in smoke mode
(tiny inputs) with every checker.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs as I  # noqa: E402
import loadgen  # noqa: E402
import run  # noqa: E402
import sut as S  # noqa: E402


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_runner_prints():
    b = bench_json()
    assert sorted(w["name"] for w in b["workloads"]) == sorted(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    e2e = [m["name"] for m in b["end_to_end"]]
    assert "setup_s" in e2e and f"search_p{run.TAIL}_ms" in e2e
    assert max(m["bound"] for m in b["end_to_end"]) == next(
        m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s")


def test_process_kinds_follow_the_executable():
    java = [b"/usr/lib/jvm/bin/java", b"-cp", b"/x/pyspark/jars/*",
            b"org.apache.spark.deploy.SparkSubmit", b"pyspark-shell"]
    assert loadgen.kind_of(java) == "jvm"
    assert loadgen.kind_of([b"python3", b"-m", b"pyspark.daemon"]) == "python_worker"
    assert loadgen.kind_of([b"/bin/bash", b"spark-submit", b"pyspark-shell"]) == "other"


def test_ending_a_session_reaps_its_orphans():
    # the shell leader is killed first, so its two children are orphaned
    # mid-run; the subreaper must still kill and reap both
    code = f"""
import os, signal, subprocess, sys, time
sys.path.insert(0, {HERE!r})
import loadgen
loadgen.become_subreaper()
p = subprocess.Popen(["sh", "-c", "sleep 60 & sleep 60 & wait"], start_new_session=True)
tree = loadgen.ProcTree(p.pid)
while len(tree.members()) < 3:
    time.sleep(0.05)
os.kill(p.pid, signal.SIGKILL)
tree.end()
assert not tree.members()
assert not [q for q, st in loadgen._all_stats().items() if st[0] == os.getpid()]
loadgen.end_children()
"""
    p = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=60)
    assert p.returncode == 0, p.stderr


def test_written_counts_new_and_rewritten_files(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "b").write_bytes(b"y" * 5)
    before = S.file_stats(str(tmp_path))
    (tmp_path / "a").write_bytes(b"z" * 3)  # rewritten, smaller
    (tmp_path / "c").write_bytes(b"w" * 7)  # new
    os.remove(tmp_path / "b")
    after = S.file_stats(str(tmp_path))
    assert S.written(before, after) == (10, 2)


def _inputs():
    inp = I.make_inputs(7, "smoke")
    writes = I.write_schedule(7, inp, n_blocks=2)
    return inp, writes, I.Mirror(inp, writes)


def test_reads_are_checked_at_every_version_they_may_observe():
    inp, writes, mirror = _inputs()
    u = next(i for i, w in enumerate(writes) if w["kind"] == "upsert")
    new = writes[u]["vector"].tolist()

    def get(lo, hi):
        return {"op": "get", "id": writes[u]["id"], "status": 200,
                "vector": new, "lo": lo, "hi": hi}

    exact, window, before = get(u + 1, u + 1), get(0, u + 2), get(0, u)
    out = run.check_records([exact, window, before], mirror, final=u + 2)
    assert [exact["failed"], window["failed"], before["failed"]] == [False, False, True]
    assert out["counts"]["get"] == [3, 1]


def test_deleted_rows_must_read_back_absent():
    inp, writes, mirror = _inputs()
    v = next(i for i, w in enumerate(writes) if w["kind"] == "delete")
    gone = {"op": "readback", "id": writes[v]["id"], "v": v + 1, "status": 404,
            "vector": None}
    still = {**gone, "status": 200, "vector": inp.vectors[0].tolist()}
    run.check_records([gone, still], mirror, final=v + 1)
    assert gone["failed"] is False and still["failed"] is True


def test_inputs_depend_only_on_the_seed():
    a, b, c = (I.make_inputs(s, "smoke") for s in (3, 3, 4))
    assert np.array_equal(a.vectors, b.vectors) and a.doc_texts == b.doc_texts
    assert not np.array_equal(a.vectors, c.vectors)


def _bench(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_is_correct_and_complete(workload, trace):
    p = _bench(ROOT, "--workload", workload, "--seed", "5", "--seconds", "3",
               "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    b = bench_json()
    want = b["per_layer"] if trace == "1" else b["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    if trace == "1":
        assert out["metrics"]["sut.jvm_rss_mb"]["value"] > 100
        assert out["metrics"]["sut.jvm_cpu_share"]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run"))


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench(tmp_path, "--workload", "resident_reads", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert not p.stdout.strip()
