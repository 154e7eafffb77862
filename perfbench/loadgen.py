"""Closed-loop HTTP load generation and ``/proc`` accounting of the SUT.

Each connection is one thread that sends its next request only after the
previous one completed. The server speaks HTTP/1.0, so a request opens
and closes its own TCP connection; "connections" here means concurrent
clients.
"""

from __future__ import annotations

import ctypes
import http.client
import json
import os
import signal
import threading
import time

TIMEOUT_S = 60.0


def request(port: int, method: str, path: str, body: bytes | None = None):
    """``(status, payload or None, seconds)``; status 0 on a transport
    error or timeout."""
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        headers = {"Content-Type": "application/json"} if body else {}
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        raw = resp.read()
        status = resp.status
    except (OSError, http.client.HTTPException):
        return 0, None, time.perf_counter() - t0
    finally:
        conn.close()
    dt = time.perf_counter() - t0
    try:
        return status, json.loads(raw), dt
    except ValueError:
        return status, None, dt


def run_clients(clients, done) -> float:
    """Run each ``client(stop)`` callable in its own thread until
    ``done(elapsed_s)`` is true or a client returns; return the wall
    time."""
    stop = threading.Event()
    errors: list[BaseException] = []

    def wrap(fn):
        try:
            fn(stop)
        except BaseException as e:  # re-raised after join
            errors.append(e)
        finally:
            stop.set()

    threads = [threading.Thread(target=wrap, args=(c,)) for c in clients]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    try:
        while not stop.is_set() and not done(time.perf_counter() - t0):
            time.sleep(0.02)
    finally:
        # also on SIGTERM, so no client outlives the run
        stop.set()
    for t in threads:
        t.join(TIMEOUT_S + 30)
        if t.is_alive():
            raise RuntimeError("load generator thread did not stop")
    if errors:
        raise errors[0]
    return time.perf_counter() - t0


# -- /proc accounting and process ending --------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, session, cpu seconds incl. reaped children, rss bytes) or
    None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rfind(")") + 2:].split()
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return int(fields[1]), int(fields[3]), cpu, int(fields[21]) * _PAGE


def _all_stats() -> dict:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def become_subreaper() -> None:
    """Make orphaned descendants of this process its children, so that
    every process the benchmark starts can be reaped before it exits."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def end_children(timeout: float = 60.0) -> None:
    """Kill and reap every child of this process (with
    :func:`become_subreaper`, every descendant ends up one)."""
    deadline = time.monotonic() + timeout
    me = os.getpid()
    while True:
        kids = [p for p, st in _all_stats().items() if st[0] == me]
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {kids} did not end")
        time.sleep(0.05)


def kind_of(argv: list[bytes]) -> str:
    """Classify a process by its command line: the executable in
    ``argv[0]`` decides, so a JVM whose class path mentions pyspark is
    still the JVM."""
    exe = os.path.basename(argv[0]) if argv else b""
    if exe == b"java":
        return "jvm"
    if exe.startswith(b"python") and any(
        a in (b"pyspark.daemon", b"pyspark.worker") for a in argv[1:]
    ):
        return "python_worker"
    return "other"


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        return "other"
    return kind_of([a for a in argv if a])


class ProcTree:
    """CPU and RSS of a process started in a session of its own and of
    every process in that session, by kind (driver, jvm, python_worker),
    sampled from ``/proc``. Membership is by session, not parentage, so a
    process whose parent has died still counts (PySpark's daemon moves to
    a process group of its own, but stays in the session)."""

    def __init__(self, root: int):
        self.root = root
        self.kinds: dict[int, str] = {}
        self.peak_rss = 0
        self.peak_by_kind: dict[str, int] = {}
        self.samples: list[tuple[float, int]] = []  # (perf_counter, tree RSS)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def members(self) -> dict:
        return {p: st for p, st in _all_stats().items() if st[1] == self.root}

    def snapshot(self) -> dict:
        """``{"cpu": {kind: s}, "rss": {kind: bytes}}`` of the live tree."""
        out: dict = {"cpu": {}, "rss": {}}
        for pid, st in self.members().items():
            kind = self.kinds.get(pid) or _kind(pid, self.root)
            if kind != "other":
                # a launcher script becomes the JVM when it execs java,
                # so only settled kinds are remembered
                self.kinds[pid] = kind
            out["cpu"][kind] = out["cpu"].get(kind, 0.0) + st[2]
            out["rss"][kind] = out["rss"].get(kind, 0) + st[3]
        return out

    def _sample(self) -> None:
        while not self._stop.wait(0.25):
            snap = self.snapshot()
            rss = sum(snap["rss"].values())
            self.samples.append((time.perf_counter(), rss))
            self.peak_rss = max(self.peak_rss, rss)
            for k, v in snap["rss"].items():
                self.peak_by_kind[k] = max(self.peak_by_kind.get(k, 0), v)

    def median_rss(self, t0: float, t1: float) -> float:
        """Median tree RSS over the samples taken between two
        ``perf_counter`` readings."""
        xs = sorted(r for t, r in self.samples if t0 <= t <= t1)
        return float(xs[len(xs) // 2]) if xs else 0.0

    def start(self) -> None:
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(5)

    def end(self, timeout: float = 60.0) -> None:
        """SIGKILL every process of the session until none is left; reap
        those that are children of this process (a zombie still counts)."""
        deadline = time.monotonic() + timeout
        me = os.getpid()
        while True:
            left = self.members()
            if not left:
                return
            for p, st in left.items():
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
                if st[0] == me:
                    try:
                        os.waitpid(p, os.WNOHANG)
                    except ChildProcessError:
                        pass
            if time.monotonic() > deadline:
                raise RuntimeError(f"processes {sorted(left)} did not end")
            time.sleep(0.05)
