"""Multi-writer OCC soak (VERDICT r10 #7): N OS PROCESSES hammer one
collection with mixed upsert/delete commits and the parent proves the
lakehouse layer's concurrency claim — zero lost commits, a consistent
final manifest — that the single-process pytest pins could not.

Protocol (makes "lost commit" decidable):
  - worker w only ever UPSERTS ids it owns (``w{w}-i{op}-r{k}``) and
    only DELETES ids it upserted earlier in ITS OWN sequence, so the
    expected final id set is a pure function of each worker's
    committed-op log — no cross-worker write conflicts by content,
    every conflict is a VERSION conflict (the OCC race under test: two
    writers built on one log tail race for the same log entry).
  - a worker retries ``CommitConflictError`` with a fresh read, like
    any OCC client; only ops that RETURNED are logged as committed.
  - the parent replays the logs: every surviving upserted id must be
    present with its LAST committed embedding tag, every deleted id
    absent, and ``count()`` must equal the replay exactly. A commit
    built on a stale base that still became visible (a lost commit)
    breaks one of these.

Each worker is a separate JVM (``local[4]``, 3g driver) — the commit
log's put-if-absent entry links race across real process boundaries,
not threads sharing a py4j gateway.

Usage:
  python tools/soak_commits.py [n_workers] [ops_per_worker]
  python tools/soak_commits.py --worker <db_path> <wid> <n_ops>  # internal
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIMS = 8


def _emb(tag: int) -> list[float]:
    # deterministic per-tag embedding: replay-checkable "last write wins"
    return [float(tag)] + [0.0] * (DIMS - 1)


def worker(db_path: str, wid: int, n_ops: int) -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    from fastpyvectordb_spark.catalog import CommitConflictError, VectorDB
    from fastpyvectordb_spark.session import get_spark

    spark = get_spark(f"soak-w{wid}")
    spark.sparkContext.setLogLevel("ERROR")
    db = VectorDB(spark, db_path)
    c = db.get_collection("soak")
    committed: list[dict] = []
    alive: list[str] = []  # my ids currently expected present
    for i in range(n_ops):
        # mixed verbs: mostly upserts, every 4th op deletes half of
        # my alive set (delete only ever targets my own committed ids)
        if i % 4 == 3 and alive:
            doomed = alive[: max(1, len(alive) // 2)]
            for attempt in range(25):
                try:
                    c.delete(ids=list(doomed))
                    break
                except CommitConflictError:
                    time.sleep(0.05 * (attempt % 5))
            else:
                raise RuntimeError(f"w{wid} op{i}: delete retries exhausted")
            committed.append({"op": "delete", "ids": list(doomed)})
            alive = [x for x in alive if x not in set(doomed)]
        else:
            ids = [f"w{wid}-i{i}-r{k}" for k in range(5)]
            rows = [(x, _emb(i), wid) for x in ids]
            pdf = spark.createDataFrame(
                rows, "id string, embedding array<float>, label int"
            )
            for attempt in range(25):
                try:
                    c.upsert(pdf)
                    break
                except CommitConflictError:
                    time.sleep(0.05 * (attempt % 5))
            else:
                raise RuntimeError(f"w{wid} op{i}: upsert retries exhausted")
            committed.append({"op": "upsert", "ids": ids, "tag": i})
            alive.extend(x for x in ids if x not in alive)
    with open(os.path.join(db_path, f"_soak_w{wid}.json"), "w") as f:
        json.dump(committed, f)
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
        return

    import tempfile

    n_workers = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    n_ops = int(sys.argv[2]) if len(sys.argv) > 2 else 34

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    from fastpyvectordb_spark.catalog import VectorDB
    from fastpyvectordb_spark.session import get_spark

    spark = get_spark("soak-parent")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="soakdb-")
    db = VectorDB(spark, root)
    c = db.create_collection("soak", dimensions=DIMS, metric="cosine")
    # non-empty base so the first concurrent commits race a real tail
    seed = spark.createDataFrame(
        [(f"seed-{k}", _emb(-1), -1) for k in range(50)],
        "id string, embedding array<float>, label int",
    )
    c.insert_batch(seed)
    db_path = root

    t0 = time.perf_counter()
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker",
             db_path, str(w), str(n_ops)],
            stdout=subprocess.DEVNULL, stderr=subprocess.STDOUT,
        )
        for w in range(n_workers)
    ]
    rcs = [p.wait() for p in procs]
    wall = round(time.perf_counter() - t0, 1)
    assert all(rc == 0 for rc in rcs), f"worker exit codes {rcs}"

    # replay the committed-op logs into the expected final state
    expect: dict[str, int] = {f"seed-{k}": -1 for k in range(50)}
    total_commits = 0
    for w in range(n_workers):
        with open(os.path.join(db_path, f"_soak_w{w}.json")) as f:
            log = json.load(f)
        total_commits += len(log)
        for entry in log:
            if entry["op"] == "upsert":
                for x in entry["ids"]:
                    expect[x] = entry["tag"]
            else:
                for x in entry["ids"]:
                    expect.pop(x, None)

    got = {
        r["id"]: int(r["tag0"])
        for r in c.df()
        .selectExpr("id", "CAST(embedding[0] AS INT) AS tag0")
        .collect()
    }
    missing = sorted(set(expect) - set(got))[:5]
    extra = sorted(set(got) - set(expect))[:5]
    stale = sorted(
        k for k in set(expect) & set(got) if expect[k] != got[k]
    )[:5]
    assert not missing, f"LOST COMMITS — missing ids (first 5): {missing}"
    assert not extra, f"resurrected ids (first 5): {extra}"
    assert not stale, f"stale last-write ids (first 5): {stale}"
    assert c.count() == len(expect), (c.count(), len(expect))
    print(json.dumps({
        "metric": "occ_soak",
        "workers": n_workers,
        "ops_per_worker": n_ops,
        "committed_ops": total_commits,
        "final_rows": c.count(),
        "wall_sec": wall,
        "lost_commits": 0,
    }))


if __name__ == "__main__":
    main()
