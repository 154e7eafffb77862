"""Serving benchmark of fastpyvectordb_spark.

    python3 perfbench/run.py --workload resident_reads --seed 1 --seconds 15 --trace 0

Starts the system under test (``sut.py``) as a fresh process, drives its
REST server with a closed loop of HTTP clients for ``--seconds``, checks
every answer against the NumPy mirror in ``inputs.py`` and prints one
JSON object as the last line of standard output. ``--trace 1`` adds the
per-layer probes and prints the per-layer metrics instead. See
``README.md`` next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time
from multiprocessing.connection import Connection

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs as I  # noqa: E402
import loadgen  # noqa: E402
import sut as S  # noqa: E402

BASE = f"/collections/{S.COLLECTION}/"
# percentile of the *_p90_ms tail metrics: 25 or more samples lie
# beyond it in every workload, so one host stall moves it less than p95
TAIL = 90
READ_MIX = (("search", 0.6), ("ann", 0.3), ("get", 0.1))
WORKLOADS = {
    # clients per workload: readers send READ_MIX, the writer walks the
    # seeded write schedule and reads each write back
    "resident_reads": {"readers": 2, "writer": False},
    "write_mix": {"readers": 1, "writer": True},
}
# writes sent before the timed write_mix loop, one block's first four
# (upsert, batch insert, upsert, delete): the first commit of each kind
# runs cold Spark plans for seconds, and only 2-3 such writes would fit
# in the loop, so their timing alone swung the loop's figures by a fifth
WARM_WRITES = 4
RECALL_QUERIES = 64
# IVF probe width of every ANN request (the server maps ef_search to
# nprobe); narrow enough that recall@10 stays below 1 on these inputs
ANN_EF = 20
CALL_TIMEOUT_S = 150.0


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except OSError:
        return "unknown"


class SUTProcess:
    """The system under test as a fresh Python process in a session of its
    own, spoken to over a socket pair, with its processes sampled from
    ``/proc``."""

    def __init__(self, cfg: dict):
        mine, theirs = socket.socketpair()
        with open(cfg["log"], "ab") as log:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "sut.py"), str(theirs.fileno())],
                pass_fds=(theirs.fileno(),), start_new_session=True,
                stdin=subprocess.DEVNULL, stdout=log, stderr=log,
                cwd=cfg["run_dir"])
        theirs.close()
        self.conn = Connection(mine.detach())
        self.tree = loadgen.ProcTree(self.proc.pid)
        self.tree.start()
        self.closed = False
        self.conn.send(cfg)

    def recv(self, timeout: float = CALL_TIMEOUT_S) -> dict:
        if not self.conn.poll(timeout):
            raise RuntimeError("system under test did not answer in time")
        msg = self.conn.recv()
        if not msg.pop("ok"):
            raise RuntimeError("system under test failed:\n" + msg["error"])
        return msg

    def call(self, cmd: str, **kw) -> dict:
        self.conn.send({"cmd": cmd, **kw})
        return self.recv()

    def close(self) -> None:
        """Kill every process of the SUT's session and wait until each has
        ended and been reaped."""
        if self.closed:
            return
        self.closed = True
        self.conn.close()
        # every commit is durable once acknowledged, so the processes are
        # killed rather than left to shut Spark down (seconds per run)
        self.tree.stop()
        self.tree.end()
        self.proc.poll()


# -- closed-loop clients -------------------------------------------------


class Loop:
    """Shared state of one timed loop: the acknowledged write count (the
    mirror version a read may observe) and every request's record."""

    def __init__(self, port: int, inp, writes, stable_ids, seed: int,
                 trace: bool):
        self.port, self.inp, self.writes = port, inp, writes
        self.stable_ids = stable_ids
        self.seed = seed
        self.acked = 0
        self.records: list[dict] = []
        self.spans: list[dict] = []
        self.trace = trace
        self.t0 = time.perf_counter()
        self.lock = threading.Lock()

    def _add(self, rec: dict) -> None:
        with self.lock:
            self.records.append(rec)
            if self.trace:
                self.spans.append({"name": f"client.{rec['op']}",
                                   "start": rec["start"],
                                   "end": rec["start"] + rec["s"],
                                   "took_ms": rec.get("took_ms")})

    def read(self, op: str, i: int) -> dict:
        """One read request, recorded with the versions it may observe."""
        lo = self.acked
        start = time.perf_counter() - self.t0
        if op == "get":
            rid = self.stable_ids[i % len(self.stable_ids)]
            status, body, dt = loadgen.request(
                self.port, "GET", BASE + f"vectors/{rid}?include_vector=true")
            rec = {"op": op, "id": rid}
            if status == 200:
                rec["vector"] = body.get("vector")
        else:
            q = self.inp.queries[i % len(self.inp.queries)]
            req = {"vector": q.tolist(), "k": I.K}
            if op == "ann":
                req.update(ann=True, ef_search=ANN_EF)
            status, body, dt = loadgen.request(
                self.port, "POST", BASE + "search", json.dumps(req).encode())
            rec = {"op": op, "qi": i % len(self.inp.queries)}
            if status == 200:
                rec["hits"] = [(h["id"], h["score"]) for h in body["results"]]
                rec["took_ms"] = body["took_ms"]
        rec.update(status=status, s=dt, start=start, lo=lo, hi=self.acked + 1)
        self._add(rec)
        return rec

    def reader(self, cid: int):
        rng = np.random.default_rng([self.seed, 1000 + cid])
        ops = [o for o, _ in READ_MIX]
        p = [w for _, w in READ_MIX]

        def run(stop: threading.Event) -> None:
            while not stop.is_set():
                self.read(str(rng.choice(ops, p=p)), int(rng.integers(1 << 30)))

        return run

    def write(self, v: int) -> dict:
        """Send write ``v`` of the schedule, then read it back."""
        w = self.writes[v]
        method, suffix, body = I.write_body(w)
        start = time.perf_counter() - self.t0
        status, _, dt = loadgen.request(self.port, method, BASE + suffix, body)
        rec = {"op": "write", "kind": w["kind"], "v": v, "status": status,
               "s": dt, "start": start}
        self._add(rec)
        if status != 200:
            return rec
        with self.lock:
            self.acked = v + 1
        rid = w["ids"][0] if w["kind"] == "insert_batch" else w["id"]
        start = time.perf_counter() - self.t0
        st, body, dt = loadgen.request(
            self.port, "GET", BASE + f"vectors/{rid}?include_vector=true")
        back = {"op": "readback", "id": rid, "v": v + 1, "status": st,
                "s": dt, "start": start,
                "vector": body.get("vector") if st == 200 else None}
        self._add(back)
        rec["readback"] = back
        return rec

    def writer(self, stop: threading.Event) -> None:
        while not stop.is_set():
            if self.acked >= len(self.writes):
                raise RuntimeError("write schedule exhausted")
            if self.write(self.acked)["status"] != 200:
                return


# -- checks ----------------------------------------------------------------


def check_read(rec: dict, mirror: I.Mirror) -> str | None:
    """None when ``rec`` is a correct answer at the mirror's version."""
    op = rec["op"].removeprefix("end_")
    if op in ("get", "readback"):
        want = mirror.vector(rec["id"])
        if want is None:
            return None if rec["status"] == 404 else f"{rec['id']} should be absent"
        got = rec.get("vector")
        if rec["status"] != 200 or got is None:
            return f"{rec['id']}: HTTP {rec['status']}"
        if np.abs(np.asarray(got) - want).max() > 1e-6:
            return f"{rec['id']}: vector differs"
        return None
    if rec["status"] != 200:
        return f"{op}: HTTP {rec['status']}"
    q = mirror.queries[rec["qi"]]
    ids = [h[0] for h in rec["hits"]]
    scores = [h[1] for h in rec["hits"]]
    if op == "search":
        return mirror.check_topk(q, ids, scores)
    # ANN: every hit is a distinct live row scored with its exact distance
    if len(ids) != I.K or len(set(ids)) != I.K:
        return f"{len(set(ids))} distinct ANN hits"
    d = mirror.distances(q)
    for rid, s in zip(ids, scores):
        j = mirror.pos.get(rid)
        if j is None or not np.isfinite(d[j]) or abs(d[j] - s) > I.SCORE_TOL:
            return f"ANN hit {rid} is not a live row at its exact distance"
    return None


def check_records(records: list[dict], mirror: I.Mirror, final: int) -> dict:
    """Check every read at each version it may have observed (between
    the writes acknowledged when it was sent and when it returned;
    read-backs exactly at their write). Returns ``{op: [attempted,
    failed]}`` and the first errors."""
    for r in records:
        if r["op"] == "readback":
            r["lo"] = r["hi"] = r["v"]
        elif r["op"] != "write":
            r["hi"] = min(r["hi"], final)
    pending = {i for i, r in enumerate(records) if r["op"] != "write"}
    errors: dict[int, str] = {}
    for v in range(final + 1):
        mirror.advance(v)
        for i in sorted(pending):
            r = records[i]
            if r["lo"] <= v <= r["hi"]:
                err = check_read(r, mirror)
                if err is None:
                    pending.discard(i)
                    errors.pop(i, None)
                else:
                    errors[i] = err
    counts: dict = {}
    for i, r in enumerate(records):
        bad = r["status"] != 200 if r["op"] == "write" else i in pending
        r["failed"] = bad
        c = counts.setdefault(r["op"], [0, 0])
        c[0] += 1
        c[1] += bad
    return {"counts": counts, "errors": sorted(set(errors.values()))[:5]}


# -- metrics ---------------------------------------------------------------


def pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


def latencies(records, op: str) -> list[float]:
    """Milliseconds of one op type; a failed request counts as the
    client timeout, so it misses every latency limit."""
    out = []
    for r in records:
        if r["op"] != op:
            continue
        out.append(1e3 * (loadgen.TIMEOUT_S if r.get("failed") else r["s"]))
    return out


def done_in(records, seconds: float) -> int:
    """Requests completed within the first ``seconds`` of the loop; a
    write still running at the deadline would otherwise stretch it."""
    return sum(r["start"] + r["s"] <= seconds for r in records)


def metric(v: float, unit: str) -> dict:
    return {"value": float(v), "unit": unit}


def dir_bytes(path: str) -> int:
    return sum(st[0] for st in S.file_stats(path).values())


def user_bytes(mirror: I.Mirror) -> int:
    """Bytes the user stored: ids, float32 vectors and categories of the
    live rows."""
    live = np.flatnonzero(mirror.live[: mirror.n])
    return int(sum(len(mirror.ids[j]) + len(mirror.cat[j]) for j in live)
               + len(live) * I.DIMS * 4)


# -- the run ---------------------------------------------------------------


def setup_dirs() -> dict:
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("db", "tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEMORY": "1g",
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return {"run_dir": run_dir, "db_path": os.path.join(run_dir, "db"),
            "inputs": os.path.join(run_dir, "inputs.npz"),
            "log": os.path.join(run_dir, "sut.log"), "root": ROOT}


def warm(port: int, inp, stable_ids) -> None:
    """First REST request of each kind, counted in set-up."""
    q = inp.queries[0].tolist()
    for method, path, body in (
        ("POST", "search", {"vector": q, "k": I.K}),
        ("POST", "search", {"vector": q, "k": I.K, "ann": True, "ef_search": ANN_EF}),
        ("GET", f"vectors/{stable_ids[0]}", None),
    ):
        st, _, _ = loadgen.request(port, method, BASE + path,
                                   json.dumps(body).encode() if body else None)
        if st != 200:
            raise RuntimeError(f"warm-up {method} {path}: HTTP {st}")


def end_probe(loop: Loop) -> list[dict]:
    """Quiescent reads after the timed loop, checked with the loop's
    records: ANN searches over a fixed query sample (for recall@10) and
    exact searches."""
    recs = []
    for qi in range(RECALL_QUERIES):
        for op in ("ann", "search") if qi % 4 == 0 else ("ann",):
            r = loop.read(op, qi)
            r["op"] = "end_" + op
            recs.append(r)
    return recs


def recall_at_k(recs: list[dict], mirror: I.Mirror) -> float:
    """Mean recall@10 of the end probe's ANN answers against the exact
    mirror (at the final version)."""
    got = [mirror.recall(mirror.queries[r["qi"]], [h[0] for h in r["hits"]])
           for r in recs if r["op"] == "end_ann" and r["status"] == 200]
    return float(np.mean(got)) if got else 0.0


def probe_layers(sut: SUTProcess, loop: Loop, mirror: I.Mirror, inp,
                 smoke: bool) -> tuple[dict, list[str]]:
    """Per-layer probes of a traced run. Returns metrics and errors."""
    m: dict = {}
    errors: list[str] = []
    m.update(sut.call("serving_layers", n_queries=8 if smoke else 32))

    # a REST upsert and one in-process write of each kind, continuing
    # the schedule so the mirror can replay them
    rest_s = None
    inproc: dict = {}
    v = loop.acked
    while (rest_s is None or len(inproc) < 3) and v < loop.acked + 12:
        w = loop.writes[v]
        if w["kind"] == "upsert" and rest_s is None:
            rec = loop.write(v)
            if rec["status"] != 200:
                errors.append(f"REST upsert: HTTP {rec['status']}")
                break
            rest_s = rec["s"]
            mirror.advance(v + 1)
            err = check_read(rec["readback"], mirror)
            if err:
                errors.append("probe read-back: " + err)
        else:
            # every write is applied; the first of each kind is reported
            out = sut.call("write", w=w)
            inproc.setdefault(w["kind"], out)
            loop.acked = v + 1
        v += 1
    mirror.advance(loop.acked)
    if rest_s is None or len(inproc) < 3:
        errors.append("probe writes did not cover every kind")
        return m, errors
    m["server.upsert.ms"] = 1e3 * rest_s
    m["server.upsert.overhead_ms"] = 1e3 * (rest_s - inproc["upsert"]["s"])
    wbytes = ubytes = 0
    for kind, o in inproc.items():
        m[f"catalog.{kind}.ms"] = 1e3 * o["s"]
        m[f"catalog.{kind}.spark_jobs"] = o["jobs"]
        wbytes += o["bytes"]
        rows = {"insert_batch": inp.sizes["batch_insert_rows"], "upsert": 1}.get(kind, 0)
        ubytes += rows * (I.DIMS * 4 + 12)
    outs = list(inproc.values())
    m["catalog.bytes_written_per_user_byte"] = wbytes / max(ubytes, 1)
    m["catalog.files_per_commit"] = float(np.mean([o["files"] for o in outs]))
    m["catalog.pack_serving.refresh_ms"] = 1e3 * float(np.median([o["refresh_s"] for o in outs]))
    m["ann.search_ann.after_commit_ms"] = 1e3 * float(
        np.median([o["after_commit_s"] for o in outs]))

    s = inp.sizes
    qis = list(range(s["batch_queries"]))
    out = sut.call("batch_layers", category="c0", batch_qis=qis,
                   n_planted=s["n_planted"])
    m.update(out["metrics"])
    hits = out["hits"]
    h = hits["filtered"]
    err = mirror.check_topk(mirror.queries[0], [x[0] for x in h],
                            [x[1] for x in h], category="c0")
    if err:
        errors.append(f"filtered search: {err}")
    for qi, h in zip(qis, hits["search_batch"]):
        err = mirror.check_topk(mirror.queries[qi], [x[0] for x in h], [x[1] for x in h])
        if err:
            errors.append(f"search_batch {qi}: {err}")
    h0 = hits["hybrid"]
    want = I.hybrid_oracle(inp)
    got = [[] for _ in want]
    for qid, _, doc, score in h0:
        got[qid].append((doc, score))
    for qi, (g, w) in enumerate(zip(got, want)):
        if [d for d, _ in g] != [d for d, _ in w] or any(
                abs(a - b) > I.SCORE_TOL for (_, a), (_, b) in zip(g, w)):
            errors.append(f"hybrid query {qi} differs from the oracle")
            break
    if sorted(tuple(sorted(p)) for p in hits["neardup"]) != sorted(inp.planted):
        errors.append("near-dup top pairs are not the planted pairs")
    return m, errors


def reopen_check(proc: SUTProcess, mirror: I.Mirror, writes) -> tuple[float, list[str]]:
    """Have the fresh process ``proc`` open the collection directory;
    compare its count and a sample of rows with the mirror."""
    live = [str(mirror.ids[j]) for j in np.flatnonzero(mirror.live[: mirror.n])]
    touched = [w["id"] for w in writes[: mirror.version] if "id" in w]
    rng = np.random.default_rng(0)
    sample = sorted(set(list(rng.choice(live, 16, replace=False)) + touched[:16]))
    try:
        proc.recv()  # Spark is up
        proc.conn.send(sample)
        out = proc.recv()
    finally:
        proc.close()
    errors = []
    if out["count"] != mirror.live_count():
        errors.append(f"reopen count {out['count']} != {mirror.live_count()}")
    for rid in sample:
        want, got = mirror.vector(rid), out["rows"].get(rid)
        if (want is None) != (got is None) or (
                want is not None and np.abs(np.asarray(got) - want).max() > 1e-6):
            errors.append(f"reopen row {rid} differs")
            break
    return out["reopen_s"], errors


def run(args) -> dict:
    t_run = time.perf_counter()
    mode = "smoke" if args.smoke else "full"
    wl = WORKLOADS[args.workload]
    load0 = os.getloadavg()[0]
    inp = I.make_inputs(args.seed, mode)
    writes = I.write_schedule(args.seed, inp, n_blocks=30)
    touched = {w["id"] for w in writes if "id" in w}
    stable_ids = [str(i) for i in inp.ids if str(i) not in touched]
    cfg = setup_dirs()
    inp.save(cfg["inputs"])
    cfg.update(role="serve", trace=bool(args.trace),
               ivf={"n_lists": inp.sizes["n_lists"], "max_iter": inp.sizes["ivf_iter"]})
    mirror = I.Mirror(inp, writes)

    t_setup = time.perf_counter()
    sut = SUTProcess(cfg)
    reopener = None
    try:
        ready = sut.recv()
        port = ready["port"]
        warm(port, inp, stable_ids)
        setup_s = time.perf_counter() - t_setup
        disk = dir_bytes(os.path.join(cfg["db_path"], S.COLLECTION))
        ubytes = user_bytes(mirror)

        loop = Loop(port, inp, writes, stable_ids, args.seed, bool(args.trace))
        clients = [loop.reader(c) for c in range(wl["readers"])]
        t_warm = time.perf_counter()
        if wl["writer"]:
            clients.append(loop.writer)
            for v in range(WARM_WRITES):
                if loop.write(v)["status"] != 200:
                    raise RuntimeError(f"warm-up write {v} failed")
        n_warm = len(loop.records)
        jobs0 = sut.call("jobs")["jobs"]
        cpu0 = sut.tree.snapshot()["cpu"]
        loop.t0 = t_loop = time.perf_counter()
        wall = loadgen.run_clients(clients, lambda t: t >= args.seconds)
        rss_mb = sut.tree.median_rss(t_loop, t_loop + args.seconds) / 2**20
        cpu1 = sut.tree.snapshot()["cpu"]
        spark = sut.call("loop_jobs", start=jobs0)
        n_loop = len(loop.records)
        final = loop.acked

        t_checks = time.perf_counter()
        end_recs = end_probe(loop)
        checked = check_records(loop.records, mirror, final)
        recall = recall_at_k(end_recs, mirror)
        errors = list(checked["errors"])
        if args.workload == "resident_reads" and spark["jobs"]:
            errors.append(f"{spark['jobs']} Spark jobs ran in the read-only loop")

        t_stop = time.perf_counter()
        layers: dict = {}
        if args.trace:
            # the restart process starts its Spark session while the
            # probes run; it opens the collection only after the SUT stopped
            reopener = SUTProcess({**cfg, "role": "reopen"})
            layers, errs = probe_layers(sut, loop, mirror, inp, args.smoke)
            errors += errs
        spans = sut.call("stop")["spans"]
        sut.close()
        if reopener is not None:
            layers["catalog.reopen_s"], errs = reopen_check(reopener, mirror, writes)
            errors += errs
    finally:
        sut.close()
        if reopener is not None:
            reopener.close()

    recs = loop.records[n_warm:n_loop]
    counts = checked["counts"]
    attempted = sum(c[0] for c in counts.values())
    failed = sum(c[1] for c in counts.values())
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "ops_per_s": metric(done_in(recs, args.seconds) / args.seconds, "1/s"),
        "search_p50_ms": metric(pct(latencies(recs, "search"), 50), "ms"),
        f"search_p{TAIL}_ms": metric(pct(latencies(recs, "search"), TAIL), "ms"),
        # a mean, not a median: beside commits the ANN latency is bimodal,
        # and its median fell in the sparse gap between the modes, where a
        # small shift of the mix moved it by a quarter from run to run
        "ann_search_mean_ms": metric(float(np.mean(latencies(recs, "ann"))), "ms"),
        f"ann_search_p{TAIL}_ms": metric(pct(latencies(recs, "ann"), TAIL), "ms"),
        "get_p50_ms": metric(pct(latencies(recs, "get"), 50), "ms"),
        "ann_recall_at_10": metric(recall, "ratio"),
        "disk_bytes_per_user_byte": metric(disk / max(ubytes, 1), "ratio"),
        "sut_rss_mb": metric(rss_mb, "MB"),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "mode": mode,
        "nproc": nproc(), "loadavg_start": load0, "loadavg_end": os.getloadavg()[0],
        "commit": git_commit(), "wall_s": wall,
        "ops": {k: {"attempted": a, "failed": f} for k, (a, f) in counts.items()},
        "samples": {op: len(latencies(recs, op)) for op in ("search", "ann", "get")},
        "writes_acked": final, "setup_phases": ready["phases"],
        "spark_in_loop": spark, "errors": errors,
        "run_phases_s": {"inputs": t_setup - t_run, "setup": setup_s,
                         "warm_writes": t_loop - t_warm, "checks": t_stop - t_checks,
                         "probes_and_stop": time.perf_counter() - t_stop,
                         "total": time.perf_counter() - t_run},
    }
    if args.trace:
        layers.update(trace_layers(sut, spark, cpu0, cpu1, len(recs), args.seconds, ready, recs))
        info["spans"] = len(spans) + len(loop.spans)
    return {"info": info, "e2e": e2e, "layers": layers,
            "correct": not errors and failed == 0,
            "attempted": attempted, "failed": failed}


# every per-layer metric of a traced run, with its unit
PER_LAYER = {
    "server.search.took_ms_p50": "ms", "server.search.overhead_ms_p50": "ms",
    "server.ann_search.took_ms_p50": "ms", "server.ann_search.overhead_ms_p50": "ms",
    "server.upsert.ms": "ms", "server.upsert.overhead_ms": "ms",
    "catalog.search_local.ms": "ms", "catalog.get_local.ms": "ms",
    "catalog.pack_serving.full_ms": "ms", "catalog.pack_serving.refresh_ms": "ms",
    "catalog.insert_batch.ms": "ms", "catalog.upsert.ms": "ms", "catalog.delete.ms": "ms",
    "catalog.insert_batch.spark_jobs": "count", "catalog.upsert.spark_jobs": "count",
    "catalog.delete.spark_jobs": "count",
    "catalog.bytes_written_per_user_byte": "ratio", "catalog.files_per_commit": "count",
    "catalog.insert_batch.bulk_s": "s", "catalog.reopen_s": "s",
    "catalog.search.filtered_ms": "ms", "catalog.search.spark_jobs": "count",
    "catalog.search_batch.ms": "ms", "catalog.search_batch.spark_jobs": "count",
    "catalog.search_batch.spark_stages": "count", "catalog.search_batch.spark_tasks": "count",
    "ann.build_ann_index.s": "s", "ann.search_ann.ms": "ms",
    "ann.search_ann.after_commit_ms": "ms", "ann.n_lists": "count",
    "operators.bm25.build_s": "s",
    "operators.fusion.hybrid_search_batch_ms": "ms",
    "operators.fusion.hybrid_search_batch.spark_jobs": "count",
    "operators.dedup.embedding_neardup_topk_s": "s",
    "operators.dedup.embedding_neardup_topk.spark_jobs": "count",
    "embeddings.embed_column_s": "s",
    "spark.start_s": "s", "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "sut.cpu_ms_per_op": "ms", "sut.jvm_cpu_share": "ratio",
    "sut.python_worker_cpu_s": "s", "sut.peak_rss_mb": "MB", "sut.driver_rss_mb": "MB", "sut.jvm_rss_mb": "MB",
    "trace.ops_per_s": "1/s", "trace.search_p50_ms": "ms",
}


def trace_layers(sut, spark, cpu0, cpu1, n_loop, seconds, ready, recs) -> dict:
    """Server, Spark and process figures of the timed loop."""
    m: dict = {}
    for op, name in (("search", "search"), ("ann", "ann_search")):
        rs = [r for r in recs if r["op"] == op and "took_ms" in r]
        m[f"server.{name}.took_ms_p50"] = pct([r["took_ms"] for r in rs], 50)
        m[f"server.{name}.overhead_ms_p50"] = pct(
            [1e3 * r["s"] - r["took_ms"] for r in rs], 50)
    ph = ready["phases"]
    m["spark.start_s"] = ph["spark_start_s"]
    m["catalog.insert_batch.bulk_s"] = ph["catalog.insert_batch.bulk"]
    m["ann.build_ann_index.s"] = ph["ann.build_ann_index"]
    m["ann.n_lists"] = ready["n_lists"]
    m["spark.jobs_per_op"] = spark["jobs"] / max(n_loop, 1)
    m["spark.tasks_per_op"] = spark["tasks"] / max(n_loop, 1)
    cpu = {k: cpu1.get(k, 0.0) - cpu0.get(k, 0.0) for k in cpu1}
    total = sum(cpu.values())
    m["sut.cpu_ms_per_op"] = 1e3 * total / max(n_loop, 1)
    m["sut.jvm_cpu_share"] = cpu.get("jvm", 0.0) / total if total else 0.0
    m["sut.python_worker_cpu_s"] = cpu.get("python_worker", 0.0)
    m["sut.peak_rss_mb"] = sut.tree.peak_rss / 2**20
    m["sut.driver_rss_mb"] = sut.tree.peak_by_kind.get("driver", 0) / 2**20
    m["sut.jvm_rss_mb"] = sut.tree.peak_by_kind.get("jvm", 0) / 2**20
    # the traced run's own end-to-end figures: their distance from the
    # untraced runs' medians is the tracing overhead
    m["trace.ops_per_s"] = done_in(recs, seconds) / seconds
    m["trace.search_p50_ms"] = pct(latencies(recs, "search"), 50)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: every workload and check in seconds")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fastpyvectordb_spark", "catalog.py")):
        fail(f"no fastpyvectordb_spark package under {ROOT}")
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    loadgen.become_subreaper()
    # a terminated run still ends every process it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        out = run(args)
    finally:
        loadgen.end_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    info = out["info"]
    print(json.dumps(info, default=float), file=sys.stderr)
    metrics = out["layers"] if args.trace else out["e2e"]
    if args.trace:
        missing = sorted(set(PER_LAYER) - set(metrics))
        if missing:
            fail(f"per-layer metrics not measured: {missing}")
        metrics = {k: metric(metrics[k], u) for k, u in PER_LAYER.items()}
    for name, mv in metrics.items():
        print(f"{name:48s} {mv['value']:14.4f} {mv['unit']}")
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
