from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from fastpyvectordb_spark.session import get_spark

    s = get_spark("pytest", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def embeddings(spark):
    from fastpyvectordb_spark.tables import load_table

    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="session")
def documents(spark):
    from fastpyvectordb_spark.tables import load_table

    return load_table(spark, SF_DIR, "documents").cache()



class Crash(BaseException):
    """A simulated process death. A BaseException, so no ``except
    Exception`` cleanup runs; ``finally`` blocks still do, which a real
    crash would skip. In the commit path the only such block removes a
    log entry's temp file, which no reader looks at."""


@pytest.fixture
def crash_injected(monkeypatch):
    """Fault injection for commit crash tests. For the test's duration
    the driver's mutating filesystem calls — new dirs, files opened for
    writing, pyarrow parquet writes, renames, links, unlinks, rmdirs,
    rmtrees — are wrapped; the fixture returns a context manager
    ``inject(root, crash_at=None)`` that, for the CURRENT thread only,
    counts those calls under ``root`` and raises :class:`Crash` in
    place of call number ``crash_at`` (None: count only). It yields a
    dict whose ``"n"`` is the count so far. Calls after the crash pass
    through (``finally`` blocks), as do other threads' calls and
    executor-side writes, which run in other processes. ``inject.Crash``
    is the exception class (test modules import this file under another
    name, so they must not import :class:`Crash` themselves)."""
    import builtins
    import shutil
    import threading

    import pyarrow.parquet as papq

    local = threading.local()

    def step(path):
        st = getattr(local, "st", None)
        if st is None or st["crashed"] or st["quiet"]:
            return
        p = os.path.abspath(os.fsdecode(path))
        if not p.startswith(st["root"]):
            return
        st["n"] += 1
        if st["n"] == st["crash_at"]:
            st["crashed"] = True
            raise Crash(f"crash before mutating step {st['n']}: {p}")

    def counted(fn, path_arg=0):
        def inner(*a, **kw):
            step(a[path_arg])
            return fn(*a, **kw)
        return inner

    def compound(fn, needed):
        # one step for the whole call; its inner os calls are not steps
        def inner(path, *a, **kw):
            st = getattr(local, "st", None)
            if st is None:
                return fn(path, *a, **kw)
            if needed(path):
                step(path)
            st["quiet"] += 1
            try:
                return fn(path, *a, **kw)
            finally:
                st["quiet"] -= 1
        return inner

    orig_open = builtins.open

    def open_(file, mode="r", *a, **kw):
        if isinstance(file, (str, bytes, os.PathLike)) and set(mode) & set("wax+"):
            step(file)
        return orig_open(file, mode, *a, **kw)

    monkeypatch.setattr(builtins, "open", open_)
    monkeypatch.setattr(
        os, "makedirs", compound(os.makedirs, lambda p: not os.path.isdir(p))
    )
    monkeypatch.setattr(shutil, "rmtree", compound(shutil.rmtree, os.path.lexists))
    monkeypatch.setattr(papq, "write_table", counted(papq.write_table, 1))
    monkeypatch.setattr(os, "link", counted(os.link, 1))
    for name in ("rename", "replace", "unlink", "remove", "rmdir"):
        monkeypatch.setattr(os, name, counted(getattr(os, name)))

    @contextlib.contextmanager
    def inject(root, crash_at=None):
        local.st = {
            "root": os.path.abspath(root) + os.sep, "crash_at": crash_at,
            "n": 0, "crashed": False, "quiet": 0,
        }
        try:
            yield local.st
        finally:
            local.st = None

    inject.Crash = Crash
    return inject
