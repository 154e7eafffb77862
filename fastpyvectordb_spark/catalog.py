"""Collection catalog — the reference's ``VectorDB``/``Collection``
surface (``vectordb_optimized.py:185-818``) over parquet tables.

A database is a directory; each collection is a subdirectory holding a
parquet table ``(id STRING, embedding ARRAY<FLOAT>, …metadata cols)``
plus ``config.json`` (dimensions/metric — the schema contract the
reference persists at ``vectordb_optimized.py:322-331``).

DML strategy: parquet has no MERGE, so upsert/delete rewrite via
anti-join — the same logical plan a Delta MERGE executes; on a Delta
lakehouse these methods map 1:1 to ``MERGE INTO``/``DELETE`` with the
rewrite confined to matched files. Mutations write to a new version
and flip a pointer file, so readers never see partial state
(poor-man's snapshot isolation; Delta's transaction log in prod).

Commit metadata is MANIFEST-based (Delta/Iceberg actions-log shape):
immutable data files live once in a shared ``_files/_bucket=N/`` pool;
each version directory holds only a ``manifest.json`` — either a
checkpoint (full file + deletion-vector lists) or a delta against its
base version (adds/removes/dv_adds/dv_removes), checkpointed every
``_CHECKPOINT_EVERY`` commits. A commit therefore touches O(changed
files), never O(total live files) — at 100 TB / ~10⁶ files the old
hard-link-every-file snapshot capped commit rate on metadata alone.
Reads resolve the manifest chain to an explicit file list and scan it
with ``basePath`` partition inference, so ``_bucket`` pruning is now a
manifest lookup instead of a filesystem listing (the Iceberg win).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastpyvectordb_spark.filters import Filter, from_dict
from fastpyvectordb_spark.operators.knn import knn as knn_op

_POINTER = "_current"
_FILES = "_files"  # shared immutable data-file pool (manifest layout)
_CHECKPOINT_EVERY = 16  # delta-chain depth before a full checkpoint
_DV_COMPACT_AT = 64  # fold deletion vectors into one file past this

class CommitConflictError(RuntimeError):
    """Another writer committed between this op's snapshot read and
    its pointer flip (optimistic concurrency). Re-read and retry."""


# Parquet bloom filters on the id column: point lookups (get /
# id-list delete) first prune to hash buckets, then the id equality
# predicate skips row groups whose bloom says "definitely absent" —
# at 128 MB files that's most row groups of most files.
_BLOOM_OPTS = {
    "parquet.bloom.filter.enabled#id": "true",
    "parquet.bloom.filter.expected.ndv#id": "100000",
}

# Batches at or under this row count take the driver-local DML path:
# one bounded Arrow collect, then pyarrow writes the bucket files /
# deletion vector / CDC events directly — no distributed write job at
# all (the same zero-job design as delete(verify_existing=False)).
# Point DML throughput is commit-overhead-bound, and a local[32] write
# job's floor (shuffle + python-worker stage) is ~1 s; the local path
# is ~50 ms. Above the threshold the distributed single-job commit
# takes over — at 20k rows the collect is ~10 MB, safely bounded.
_LOCAL_DML_MAX_ROWS = 20_000

class _RowIndex:
    """dict-like id→row lookup over the serving pack's SORTED id array
    — O(log N) binary search per probe instead of an eagerly-built
    N-entry dict (which cost ~0.5 s per pack refresh at 1M rows and
    dominated the 'O(changed rows)' promise). Supports the mapping
    surface the enrichment paths use (get/[]/in/len/==)."""

    __slots__ = ("_ids",)

    def __init__(self, ids):
        self._ids = ids  # np object array, ascending

    def get(self, rid, default=None):
        import numpy as np

        ids = self._ids
        pos = int(np.searchsorted(ids, rid))
        if pos < len(ids) and ids[pos] == rid:
            return pos
        return default

    def __getitem__(self, rid):
        row = self.get(rid)
        if row is None:
            raise KeyError(rid)
        return row

    def __contains__(self, rid):
        return self.get(rid) is not None

    def __len__(self):
        return len(self._ids)

    def __eq__(self, other):
        import numpy as np

        if isinstance(other, _RowIndex):
            return np.array_equal(self._ids, other._ids)
        if isinstance(other, dict):
            return other == {rid: i for i, rid in enumerate(self._ids)}
        return NotImplemented


# optimize(ann_cluster=True) break-even: file skipping prunes within a
# bucket's list-range-split files, so a probe of the default nprobe (8)
# lists only skips anything when each bucket holds MORE files than the
# probe touches. At or below this files-per-bucket the rewrite cost
# cannot be recovered (BENCH r6: clustered 5.23 QPS < plain scan 8.3
# at fpb≈1) — optimize warns instead of silently degrading.
_ANN_CLUSTER_MIN_FPB = 8


@dataclass
class CollectionConfig:
    """Schema contract + index knobs. ``m``/``ef_construction``/
    ``ef_search`` mirror the reference's HNSW config
    (``vectordb_optimized.py:191-200``) — persisted for API parity and
    consumed by the opt-in ANN accelerators (IVF n_lists ≈ f(m),
    nprobe ≈ f(ef_search)); the exact engine ignores them."""

    dimensions: int
    metric: str = "cosine"
    m: int = 16
    ef_construction: int = 200
    ef_search: int = 50
    n_buckets: int = 16  # id-hash buckets for file-pruned DML rewrites

    def to_json(self) -> str:
        return json.dumps(
            {
                "dimensions": self.dimensions,
                "metric": self.metric,
                "m": self.m,
                "ef_construction": self.ef_construction,
                "ef_search": self.ef_search,
                "n_buckets": self.n_buckets,
            }
        )

    @staticmethod
    def from_json(s: str) -> "CollectionConfig":
        d = json.loads(s)
        return CollectionConfig(
            d["dimensions"],
            d.get("metric", "cosine"),
            d.get("m", 16),
            d.get("ef_construction", 200),
            d.get("ef_search", 50),
            d.get("n_buckets", 16),
        )


class Collection:
    """One vector collection backed by a versioned parquet table."""

    def __init__(self, spark: SparkSession, path: str, config: CollectionConfig):
        self.spark = spark
        self.path = path
        self.config = config
        # version-dir → merged read schema. mergeSchema=true opens every
        # file footer on the driver at plan time; a snapshot's merged
        # schema never changes after commit, so pay that once per
        # version (and prime it at commit time, where the writer already
        # knows the schema) — sequential DML then never lists footers.
        self._schema_cache: dict[str, object] = {}
        # version name → resolved (data_files, dv_files). Versions are
        # immutable after commit (vacuum invalidates), so folding a
        # manifest delta chain happens once per version per handle.
        self._mf_cache: dict[str, tuple[list[str], list[str]]] = {}
        # legacy version → pooled lists after a one-time migration link
        self._mig_cache: dict[str, tuple[list[str], list[str]]] = {}
        os.makedirs(path, exist_ok=True)
        cfg = os.path.join(path, "config.json")
        if not os.path.exists(cfg):
            # tmp+rename: a crash mid-write must not leave a corrupt
            # config behind (same discipline as every other metadata
            # file in the catalog)
            tmp = cfg + f".{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as f:
                f.write(config.to_json())
            os.rename(tmp, cfg)

    # -- storage ------------------------------------------------------

    def _current_version(self) -> str | None:
        p = os.path.join(self.path, _POINTER)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip() or None

    def _flip_pointer(self, version: str) -> None:
        """Atomically repoint the collection: write-temp + rename.
        ``open(p, "w")`` would TRUNCATE in place — a concurrent reader
        (or a crash) between truncate and write sees an EMPTY pointer,
        i.e. a perfectly healthy collection transiently reads as
        nonexistent (caught live by the round-6 HTTP hammer: searches
        under sustained DML intermittently returned nothing)."""
        p = os.path.join(self.path, _POINTER)
        tmp = p + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            f.write(version)
        os.rename(tmp, p)

    def _data_path(self) -> str | None:
        v = self._current_version()
        return os.path.join(self.path, v) if v else None

    # -- manifest layer (Delta/Iceberg actions-log snapshots) ----------
    #
    # Reference parity note: the reference persists whole snapshots
    # (binary_persistence.py full-file saves); the Spark-first scale
    # answer is the lakehouse transaction-log shape instead — commit
    # cost must not grow with table size.

    def _pool_root(self) -> str:
        return os.path.join(self.path, _FILES)

    def _manifest_file(self, version: str) -> str:
        return os.path.join(self.path, version, "manifest.json")

    def _load_manifest(self, version: str) -> dict | None:
        p = self._manifest_file(version)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _resolve(self, version: str) -> tuple[list[str], list[str]]:
        """``(data_files, dv_files)`` of a version as collection-path-
        relative paths, folding the manifest delta chain from the
        nearest checkpoint. Legacy (pre-manifest) version dirs resolve
        by walking the dir itself — they stay self-contained."""
        cached = self._mf_cache.get(version)
        if cached is not None:
            return cached
        m = self._load_manifest(version)
        if m is None:
            vdir = os.path.join(self.path, version)
            files: list[str] = []
            dv: list[str] = []
            for root, dirs, fns in os.walk(vdir):
                dirs[:] = [d for d in dirs if d != "_events_staged"]
                rel = os.path.relpath(root, self.path)
                sink = dv if os.path.basename(root) == "_dv" else files
                for fn in fns:
                    if fn.endswith(".parquet"):
                        sink.append(os.path.join(rel, fn))
            out = (sorted(files), sorted(dv))
        elif m["kind"] == "checkpoint":
            out = (list(m["files"]), list(m["dv"]))
        else:
            bf, bdv = self._resolve(m["base"])
            rm, dvrm = set(m["removes"]), set(m["dv_removes"])
            out = (
                [f for f in bf if f not in rm] + list(m["adds"]),
                [f for f in bdv if f not in dvrm] + list(m["dv_adds"]),
            )
        self._mf_cache[version] = out
        return out

    @staticmethod
    def _bucket_of_path(rel: str) -> int:
        for seg in rel.split(os.sep):
            if seg.startswith("_bucket="):
                return int(seg.split("=", 1)[1])
        return -1

    def _stage_dir(self, version: str) -> str:
        return os.path.join(self.path, "_stage", version)

    def _pool_stage(self, stage: str, version: str) -> list[str]:
        """Move a staged Spark write's data files into the shared pool
        under ``{version}-``-prefixed unique names (same-filesystem
        renames — O(new files)). Pool files are invisible until a
        committed manifest references them, so a crash here leaves only
        orphans for vacuum."""
        import shutil

        adds: list[str] = []
        if not os.path.isdir(stage):
            return adds
        for entry in sorted(os.listdir(stage)):
            if not entry.startswith("_bucket="):
                continue
            src = os.path.join(stage, entry)
            dstd = os.path.join(self._pool_root(), entry)
            os.makedirs(dstd, exist_ok=True)
            for fn in sorted(os.listdir(src)):
                if fn.endswith(".parquet"):
                    dst = os.path.join(dstd, f"{version}-{fn}")
                    os.rename(os.path.join(src, fn), dst)
                    adds.append(os.path.relpath(dst, self.path))
        shutil.rmtree(stage, ignore_errors=True)
        return adds

    def _pool_dv(self, vdir: str, version: str) -> list[str]:
        """Move kill files staged under ``<vdir>/_dv`` (written by the
        driver or by the commit job's own tasks) into the DV pool."""
        import shutil

        src = os.path.join(vdir, "_dv")
        out: list[str] = []
        if not os.path.isdir(src):
            return out
        dstd = os.path.join(self._pool_root(), "_dv")
        os.makedirs(dstd, exist_ok=True)
        for fn in sorted(os.listdir(src)):
            if fn.endswith(".parquet"):
                dst = os.path.join(dstd, f"{version}-{fn}")
                os.rename(os.path.join(src, fn), dst)
                out.append(os.path.relpath(dst, self.path))
        shutil.rmtree(src, ignore_errors=True)
        return out

    def _base_state(self, base_version: str | None) -> tuple[list[str], list[str]]:
        """Pooled ``(files, dv)`` of a commit's base snapshot. A legacy
        (pre-manifest) bucketed version is migrated into the pool ONCE
        via hard links — O(files) paid a single time, after which every
        commit is O(changed files)."""
        if base_version is None:
            return [], []
        if self._load_manifest(base_version) is not None:
            return self._resolve(base_version)
        cached = self._mig_cache.get(base_version)
        if cached is not None:
            return cached
        files, dv = self._resolve(base_version)
        tok = f"mig{uuid.uuid4().hex[:8]}"
        pooled_files: list[str] = []
        pooled_dv: list[str] = []
        for rel in files:
            b = self._bucket_of_path(rel)
            dstd = os.path.join(self._pool_root(), f"_bucket={b}")
            os.makedirs(dstd, exist_ok=True)
            dst = os.path.join(dstd, f"{tok}-{os.path.basename(rel)}")
            os.link(os.path.join(self.path, rel), dst)
            pooled_files.append(os.path.relpath(dst, self.path))
        for rel in dv:
            dstd = os.path.join(self._pool_root(), "_dv")
            os.makedirs(dstd, exist_ok=True)
            dst = os.path.join(dstd, f"{tok}-{os.path.basename(rel)}")
            os.link(os.path.join(self.path, rel), dst)
            pooled_dv.append(os.path.relpath(dst, self.path))
        self._mig_cache[base_version] = (pooled_files, pooled_dv)
        return pooled_files, pooled_dv

    def _compact_dv(self, dv: list[str], version: str) -> list[str]:
        """Fold accumulated kill files into one (tiny id lists — a
        driver-side pyarrow merge), bounding the read path's DV file
        count under sustained point DML."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        merged = pa.concat_tables(
            [
                papq.read_table(os.path.join(self.path, f))
                for f in dv
            ]
        )
        dstd = os.path.join(self._pool_root(), "_dv")
        os.makedirs(dstd, exist_ok=True)
        name = f"{version}-kills_compacted_{uuid.uuid4().hex[:8]}.parquet"
        dst = os.path.join(dstd, name)
        papq.write_table(merged, dst)
        return [os.path.relpath(dst, self.path)]

    def _write_manifest(
        self,
        version: str,
        base_version: str | None,
        adds: list[str],
        removes: list[str],
        dv_adds: list[str],
    ) -> None:
        """Record the new version: a delta against its base, or a full
        checkpoint every ``_CHECKPOINT_EVERY`` commits / on legacy
        migration / when the DV set needs compaction. The manifest is
        written atomically (tmp + rename) inside the version dir."""
        vdir = os.path.join(self.path, version)
        os.makedirs(vdir, exist_ok=True)
        bm = self._load_manifest(base_version) if base_version else None
        if base_version is None:
            m = {"kind": "checkpoint", "depth": 0, "files": adds, "dv": dv_adds}
            resolved = (list(adds), list(dv_adds))
        else:
            bf, bdv = self._base_state(base_version)
            files = [f for f in bf if f not in set(removes)] + adds
            dv = list(bdv) + dv_adds
            compact = len(dv) > _DV_COMPACT_AT
            if compact:
                dv = self._compact_dv(dv, version)
            if bm is not None and bm["depth"] + 1 < _CHECKPOINT_EVERY and not compact:
                m = {
                    "kind": "delta",
                    "base": base_version,
                    "depth": bm["depth"] + 1,
                    "adds": adds,
                    "removes": removes,
                    "dv_adds": dv_adds,
                    "dv_removes": [],
                }
            else:
                m = {"kind": "checkpoint", "depth": 0, "files": files, "dv": dv}
            resolved = (files, dv)
        tmp = os.path.join(vdir, f".manifest.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.rename(tmp, self._manifest_file(version))
        self._mf_cache[version] = resolved

    def df(self, version: str | None = None) -> DataFrame:
        """The collection as a DataFrame (S1). ``version`` time-travels
        to any committed snapshot (Delta ``VERSION AS OF``; every commit
        is a full immutable version dir, so old snapshots stay
        readable until vacuumed)."""
        return self._df_live(version)

    def _df_live(
        self, version: str | None = None, keep_seq: bool = False
    ) -> DataFrame:
        p = (
            os.path.join(self.path, version)
            if version is not None
            else self._data_path()
        )
        # no committed data — or a snapshot whose every row was deleted
        # (partitionBy of an empty DF writes no files and the read can't
        # infer a schema). A MISSING dir (vacuumed version) still
        # raises via the parquet read below.
        if p is None or (os.path.isdir(p) and not self._has_parquet(p)):
            return self.spark.createDataFrame(
                [], f"id string, embedding array<float>"
            )
        # mergeSchema: delta commits can leave per-bucket schema drift
        # (a new metadata column exists only in rewritten buckets);
        # missing columns read as NULL — exactly the F7 contract.
        # _ann_list is the optimize(ann_cluster) stats column — internal
        # like _seq, never user-visible
        return self._apply_dv(
            self._read_snapshot(p), p, keep_seq=keep_seq
        ).drop("_bucket", "_ann_list")

    def _df_live_files(
        self, files: list[str], version: str
    ) -> DataFrame:
        """Live rows of ``version`` read from an EXPLICIT file subset —
        the ANN fallback's file-skipping scan (footer stats prune the
        list first; kills still apply globally, and ``_ann_list`` stays
        readable for the pushed probe filter)."""
        paths = [os.path.join(self.path, f) for f in files]
        p = os.path.join(self.path, version)
        cached = self._schema_cache.get(p)
        rd = self.spark.read.option("basePath", self._pool_root())
        df = (
            rd.schema(cached).parquet(*paths)
            if cached is not None
            else rd.option("mergeSchema", "true").parquet(*paths)
        )
        return self._apply_dv(df, p).drop("_bucket")

    def _read_snapshot(self, p: str) -> DataFrame:
        """Read a snapshot with its merged schema, resolving that
        schema from the per-version cache when possible (an explicit
        ``.schema(...)`` read skips the driver-side footer sweep that
        ``mergeSchema=true`` does on every call; files missing a cached
        column read it as NULL, same as mergeSchema).

        Manifest versions scan their resolved explicit file list with
        ``basePath`` pointing at the pool root, so ``_bucket`` stays a
        partition column and bucket-pruned reads plan against the
        manifest's file set — no filesystem listing at all."""
        version = os.path.basename(p)
        cached = self._schema_cache.get(p)
        if self._load_manifest(version) is not None:
            files, _ = self._resolve(version)
            paths = [os.path.join(self.path, f) for f in files]
            rd = self.spark.read.option("basePath", self._pool_root())
            if cached is not None:
                return rd.schema(cached).parquet(*paths)
            df = rd.option("mergeSchema", "true").parquet(*paths)
            self._schema_cache[p] = df.schema
            return df
        if cached is not None:
            return self.spark.read.schema(cached).parquet(p)
        df = self.spark.read.option("mergeSchema", "true").parquet(p)
        self._schema_cache[p] = df.schema
        return df

    def _prime_schema(self, vdir: str, written: DataFrame, base: str | None) -> None:
        """Record a just-committed version's merged schema: columns of
        the written delta plus any columns that exist only in carried-
        over (hard-linked) buckets of the base snapshot. On any type
        conflict, leave uncached — the first read falls back to
        mergeSchema."""
        from pyspark.sql.types import IntegerType, StructField, StructType

        fields = {f.name: f for f in written.schema.fields}
        if "_bucket" not in fields:
            fields["_bucket"] = StructField("_bucket", IntegerType())
        base_schema = self._schema_cache.get(base) if base else None
        if base:
            if base_schema is None:
                return  # base merged schema unknown: don't guess
            for f in base_schema.fields:
                prev = fields.get(f.name)
                if prev is None:
                    fields[f.name] = f
                elif prev.dataType != f.dataType:
                    return
        self._schema_cache[vdir] = StructType(list(fields.values()))

    def _has_parquet(self, p: str) -> bool:
        """Any live DATA file in the snapshot at ``p`` — a manifest
        lookup for manifest versions, an early-exit walk for legacy
        dirs. Deletion-vector files are metadata, not data — a snapshot
        whose every row was deleted must read as empty."""
        if not os.path.isdir(p):
            return False
        version = os.path.basename(p)
        if self._load_manifest(version) is not None:
            return bool(self._resolve(version)[0])
        for root, dirs, files in os.walk(p):
            dirs[:] = [d for d in dirs if d != "_dv"]
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    # -- deletion vectors (Delta DV / Hudi MOR mechanics) -------------
    #
    # Point DML throughput is bounded by copy-on-write: a 1k-row upsert
    # into hash-spread ids touches every bucket and rewrites the whole
    # table. Deletion vectors break that bound: a kill record
    # (id, kill_seq) suppresses every row of that id written by a
    # commit OLDER than kill_seq; upsert = kill + append, delete =
    # kill only. Rows carry a ``_seq`` commit stamp; the read side
    # keeps a row iff no kill exists or row._seq >= kill_seq. DV files
    # live in ``<version>/_dv/`` (underscore-prefixed → invisible to
    # the snapshot's own parquet read), are hard-linked forward from
    # version to version, and vanish on any full rewrite (optimize /
    # legacy migrate), which is the compaction that folds them in.

    def _seq_next(self) -> int:
        return len(self.history()) + 1

    def _dv_paths(self, p: str) -> list[str]:
        """Absolute paths of the snapshot's deletion-vector files —
        from the manifest for manifest versions, from ``<p>/_dv`` for
        legacy dirs."""
        version = os.path.basename(p)
        if self._load_manifest(version) is not None:
            return [
                os.path.join(self.path, f) for f in self._resolve(version)[1]
            ]
        dvp = os.path.join(p, "_dv")
        if not os.path.isdir(dvp):
            return []
        return [
            os.path.join(dvp, f)
            for f in sorted(os.listdir(dvp))
            if f.endswith(".parquet")
        ]

    def _write_kills(self, vdir: str, ids, seq: int) -> None:
        """Append one kill file. ``ids`` is a Python list (written
        driver-side via pyarrow — no Spark job) or a one-column
        DataFrame (small Spark write)."""
        dst = os.path.join(vdir, "_dv")
        os.makedirs(dst, exist_ok=True)
        if isinstance(ids, DataFrame):
            (
                ids.select(
                    F.col("id").cast("string").alias("id"),
                    F.lit(seq).cast("long").alias("kill_seq"),
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(dst)
            )
            return
        import pyarrow as pa
        import pyarrow.parquet as papq

        t = pa.table(
            {
                "id": pa.array([str(i) for i in ids], pa.string()),
                "kill_seq": pa.array([seq] * len(ids), pa.int64()),
            }
        )
        papq.write_table(t, os.path.join(dst, f"kills_{seq}_{uuid.uuid4().hex[:8]}.parquet"))

    def _apply_dv(
        self, df: DataFrame, p: str, keep_seq: bool = False
    ) -> DataFrame:
        """Suppress killed rows: keep a row iff it has no kill entry or
        was (re)written at/after the kill. The DV side is tiny relative
        to the table — broadcast join, never a shuffle of the data.
        ``keep_seq`` retains the ``_seq`` commit stamp (internal
        consumers — the serving pack needs it to apply later kills
        incrementally)."""
        dv_paths = self._dv_paths(p)
        if not dv_paths:
            return df if keep_seq else df.drop("_seq")
        dv = (
            self.spark.read.parquet(*dv_paths)
            .groupBy("id")
            .agg(F.max("kill_seq").alias("_kill"))
        )
        seq_col = (
            F.coalesce(F.col("_seq"), F.lit(0))
            if "_seq" in df.columns
            else F.lit(0)
        )
        out = (
            df.join(F.broadcast(dv), "id", "left")
            .filter(F.col("_kill").isNull() | (seq_col >= F.col("_kill")))
        )
        return out.drop("_kill") if keep_seq else out.drop("_kill", "_seq")

    def _bucket(self, id_col: F.Column = None) -> F.Column:
        col = F.col("id") if id_col is None else id_col
        return F.pmod(F.xxhash64(col), F.lit(self.config.n_buckets))

    def _commit_lock(self, timeout: float = 30.0, stale: float = 300.0):
        """Exclusive pointer-flip lock (``O_CREAT|O_EXCL`` — atomic on
        POSIX and NFS v3+). Held only for the check-and-flip, never for
        data writes, so writers still build snapshots fully in
        parallel. A lock older than ``stale`` seconds is treated as
        left by a dead writer and broken."""
        import contextlib
        import time

        lockp = os.path.join(self.path, "_commit.lock")

        @contextlib.contextmanager
        def _held():
            start = time.time()
            while True:
                try:
                    fd = os.open(lockp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, str(os.getpid()).encode())
                    os.close(fd)
                    break
                except FileExistsError:
                    try:
                        if time.time() - os.path.getmtime(lockp) > stale:
                            # break via atomic rename, not unlink: with
                            # a bare unlink two waiters can both pass
                            # the staleness check and the second one
                            # deletes the FIRST waiter's fresh lock —
                            # two writers inside the flip. rename makes
                            # exactly one breaker win; losers loop.
                            broken = f"{lockp}.broken.{uuid.uuid4().hex[:8]}"
                            os.rename(lockp, broken)
                            os.unlink(broken)
                            continue
                    except OSError:
                        continue  # holder released between stat calls
                    if time.time() - start > timeout:
                        raise TimeoutError(
                            f"commit lock busy for {timeout}s: {lockp}"
                        )
                    time.sleep(0.05)
            try:
                yield
            finally:
                try:
                    os.unlink(lockp)
                except OSError:
                    pass

        return _held()

    def _finish_commit(
        self,
        version: str,
        op: str,
        base: str | None = None,
        pooled: list[str] | None = None,
    ) -> None:
        """Atomically point the collection at ``version``.

        ``base`` is the snapshot version the commit was BUILT against
        (optimistic concurrency, Delta-style): if another writer
        flipped the pointer since, this commit's hard links and kill
        files describe a stale base — the orphaned version dir is
        removed and :class:`CommitConflictError` raised so the caller
        can re-read and retry. Conflict detection is coarse (any
        intervening commit conflicts); at 100 TB the lock window is
        the pointer flip only — milliseconds — not the data write."""
        import time

        with self._commit_lock():
            cur = self._current_version()
            # base=None means the commit was built against an EMPTY
            # collection — a concurrent first insert that already
            # flipped the pointer is just as much a conflict as a
            # base mismatch (otherwise the second flip silently drops
            # the first batch).
            if cur is not None and cur != base:
                import shutil

                shutil.rmtree(
                    os.path.join(self.path, version), ignore_errors=True
                )
                # this commit's pool files reference a stale base —
                # unlink them so the conflict leaves no orphans
                for rel in pooled or []:
                    try:
                        os.unlink(os.path.join(self.path, rel))
                    except OSError:
                        pass
                self._mf_cache.pop(version, None)
                was = base if base is not None else "<empty>"
                raise CommitConflictError(
                    f"collection advanced from {was} to {cur} while "
                    f"this {op} was building; re-read and retry"
                )
            self._flip_pointer(version)
            with open(os.path.join(self.path, "_versions"), "a") as f:
                f.write(json.dumps({"version": version, "op": op,
                                    "ts": time.time()}) + "\n")

    def _commit(
        self,
        df: DataFrame,
        op: str = "commit",
        files_per_bucket: int = 1,
        pre_publish=None,
    ) -> None:
        """Full-snapshot commit, partitioned by id-hash bucket so later
        DML can rewrite only touched buckets (Delta's file pruning).
        A full rewrite contains only live rows, so no deletion vectors
        carry over — this is also the DV compaction point.

        ``files_per_bucket`` splits each bucket across that many write
        tasks (deterministic id-hash sub-split) — optimize() sizes it
        so compaction yields ~target_file_bytes files instead of
        n_buckets giant ones; plain DML commits keep the default of one
        task per bucket."""
        base = self._current_version()
        version = f"v_{uuid.uuid4().hex[:12]}"
        vdir = os.path.join(self.path, version)
        df = df.withColumn("_seq", F.lit(self._seq_next()).cast("long"))
        fpb = max(1, int(files_per_bucket))
        d = df.withColumn("_bucket", self._bucket())
        if fpb > 1:
            if "_fsplit" in df.columns:
                # caller-provided split (optimize(ann_cluster=…) groups
                # files by IVF list range instead of id hash, so each
                # file covers a contiguous list interval — file-level
                # stats then prune ANN probes)
                d = d.withColumn(
                    "_fsplit",
                    F.pmod(F.col("_fsplit").cast("long"), F.lit(fpb)),
                )
            else:
                d = d.withColumn(
                    "_fsplit",
                    F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(fpb)),
                )
            d = d.repartition(self.config.n_buckets * fpb, "_bucket", "_fsplit")
        else:
            d = d.repartition(
                # co-locate each bucket in one task: without this every
                # task writes to every bucket dir (tasks × buckets files)
                self.config.n_buckets,
                "_bucket",
            )
        if "_zorder" in df.columns:
            # optimize(zorder_by=…): Morton-sort rows inside each
            # bucket so row-group stats stay tight on the z-columns
            # (with fpb>1 each file spans the z-range but its row
            # groups are sorted runs — row-group skipping holds)
            d = d.sortWithinPartitions("_bucket", "_zorder").drop("_zorder")
        # sort/split helper columns are never stored or schema-primed
        d = d.drop("_fsplit")
        df = df.drop("_zorder", "_fsplit")
        stage = self._stage_dir(version)
        d.write.options(**_BLOOM_OPTS).mode("overwrite").partitionBy(
            "_bucket"
        ).parquet(stage)
        if pre_publish is not None:
            # post-write / pre-publish gate (r12 insert path): the
            # caller validates the STAGED bytes (dup checks, CDC
            # staging) and raises to abort — nothing is pooled or
            # pointed at yet, so the abort leaves no garbage
            try:
                pre_publish(stage, vdir)
            except Exception:
                import shutil

                shutil.rmtree(stage, ignore_errors=True)
                shutil.rmtree(vdir, ignore_errors=True)
                raise
        adds = self._pool_stage(stage, version)
        # full rewrite = fresh checkpoint: only live rows, no DV carry
        self._write_manifest(version, None, adds, [], [])
        self._prime_schema(vdir, df, base=None)
        self._finish_commit(version, op, base=base, pooled=adds)
        self._publish_staged_events(vdir)

    def _snapshot_bucketed(self) -> bool:
        """True when the current snapshot has ``_bucket=`` partition
        dirs. A collection written before bucketed commits (or restored
        to such a version) has none — DML then falls back to a full
        rewrite, which lazily migrates it to the bucketed layout."""
        cur = self._data_path()
        if cur is None or not os.path.isdir(cur):
            return True  # empty collection: first commit will bucket it
        if self._load_manifest(os.path.basename(cur)) is not None:
            return True  # manifest versions are always pool-bucketed
        return any(e.startswith("_bucket=") for e in os.listdir(cur))

    def _commit_delta(
        self, changed: DataFrame, touched: list[int], op: str
    ) -> None:
        """File-pruned commit (Delta MERGE mechanics): ``changed`` is
        the FULL new content of the ``touched`` buckets; every other
        bucket's files carry forward as manifest references — O(changed
        data) write, O(changed files) metadata. This is what keeps a
        1k-row MERGE from rewriting (or even re-listing) a 100 TB
        table."""
        cur = self._data_path()
        if not self._snapshot_bucketed():
            # legacy non-bucketed snapshot: `changed` is the full new
            # table (see _bucket_rows) — full commit migrates it
            self._commit(changed, op)
            return
        if cur is None or not touched:
            if cur is None:
                self._commit(changed, op)
            return
        base_v = os.path.basename(cur)
        version = f"v_{uuid.uuid4().hex[:12]}"
        vdir = os.path.join(self.path, version)
        touched_set = {int(t) for t in touched}
        base_files, _base_dv = self._base_state(base_v)
        removes = [
            f for f in base_files if self._bucket_of_path(f) in touched_set
        ]
        changed = changed.withColumn(
            "_seq", F.lit(self._seq_next()).cast("long")
        )
        stage = self._stage_dir(version)
        (
            changed.withColumn("_bucket", self._bucket())
            .repartition(max(1, len(touched_set)), "_bucket")
            .write.options(**_BLOOM_OPTS)
            .mode("overwrite")
            .partitionBy("_bucket")
            .parquet(stage)
        )
        adds = self._pool_stage(stage, version)
        # base DV refs carry forward in the manifest: rewritten buckets
        # hold only live rows at a fresh _seq, so stale kills are inert
        self._write_manifest(version, base_v, adds, removes, [])
        self._prime_schema(vdir, changed, base=cur)
        self._finish_commit(version, op, base=base_v, pooled=adds)

    def _commit_append(
        self,
        batch: DataFrame | None,
        op: str,
        kill_ids=None,
        n_rows: int | None = None,
        kill_event: str | None = None,
        pre_publish=None,
    ) -> None:
        """Append-only commit (Delta blind APPEND + deletion vectors):
        the manifest records the batch's new files as adds over the base
        version, plus ``kill_ids`` (list or DataFrame) as deletion-
        vector adds — the current snapshot is never read OR re-listed,
        so a 1k-row insert/upsert/delete into a 100 TB table costs
        O(1k rows) + O(new files) metadata. Inserts pass batch only
        (ids dup-checked absent); upserts pass batch + kills; deletes
        pass kills only. Repeated commits accumulate small files and DV
        entries; :meth:`optimize` compacts both."""
        cur = self._data_path()
        if cur is None or not self._has_parquet(cur) or not self._snapshot_bucketed():
            # empty or legacy layout: a full commit bootstraps/migrates.
            # Kills are already folded in by the caller's fallback path.
            # Large bootstrap batches split each bucket across several
            # write tasks (the wall-time lever for bulk ingest: bucket
            # count alone under-parallelizes a big first load); small
            # ones keep one file per bucket.
            if batch is not None:
                fpb = max(1, min(8, (n_rows or 0) // 50_000))
                self._commit(
                    batch, op, files_per_bucket=fpb,
                    pre_publish=pre_publish,
                )
            return
        base_v = os.path.basename(cur)
        version = f"v_{uuid.uuid4().hex[:12]}"
        vdir = os.path.join(self.path, version)
        os.makedirs(vdir, exist_ok=True)
        seq = self._seq_next()
        if kill_ids is not None and not (
            isinstance(kill_ids, DataFrame) and kill_event is not None
        ):
            self._write_kills(vdir, kill_ids, seq)
        n_out = None
        if batch is not None:
            batch = batch.withColumn("_seq", F.lit(seq).cast("long"))
            # small appends don't need a cluster-wide shuffle: one task
            # writes all its bucket files (partitionBy splits them).
            # When the caller didn't size the batch (upsert skips the
            # count job), hash-partition WITHOUT a fixed task count and
            # let AQE coalesce — a 1k-row upsert collapses to one write
            # task (one python worker, one kill file) instead of
            # n_buckets, while a 10M-row one still fans out. AQE merges
            # whole hash partitions, so the task-local dup check in
            # _wrap_side_effects stays a complete global check.
            out = batch.withColumn("_bucket", self._bucket())
            if n_rows is not None:
                # up to one task per bucket is FREE on file count: the
                # hash partition keeps each bucket whole, so every
                # bucket dir gains exactly one file per commit no
                # matter how many tasks carry the write
                tasks = max(
                    1, min(self.config.n_buckets, n_rows // 12_500 or 1)
                )
                out = out.repartition(tasks, "_bucket")
            elif (
                self.spark.conf.get("spark.sql.adaptive.enabled", "true")
                == "true"
            ):
                out = out.repartition("_bucket")
            else:
                # no AQE to coalesce the unsized shuffle: without a task
                # count it would fan out to spark.sql.shuffle.partitions
                # (default 200) mostly-empty python workers. One task
                # per bucket is the safe bound.
                out = out.repartition(self.config.n_buckets, "_bucket")
            obs = None
            if kill_event is not None:
                # fuse kills + CDC events + dim validation into the
                # write tasks themselves: the whole upsert is ONE job
                out = self._wrap_side_effects(out, vdir, seq, kill_event)
                try:
                    from pyspark.sql import Observation

                    obs = Observation()
                    out = out.observe(obs, F.count(F.lit(1)).alias("n"))
                except ImportError:
                    obs = None
            stage = self._stage_dir(version)
            try:
                out.write.options(**_BLOOM_OPTS).mode(
                    "overwrite"
                ).partitionBy("_bucket").parquet(stage)
            except Exception as ex:
                import re as _re
                import shutil

                shutil.rmtree(stage, ignore_errors=True)
                shutil.rmtree(vdir, ignore_errors=True)
                m = _re.search(
                    r"(dimension mismatch|null id in batch"
                    r"|duplicate id in upsert batch)[^\"\n]*",
                    str(ex),
                )
                if m:
                    raise ValueError(m.group(0)) from ex
                raise
            if obs is not None:
                n_out = int(obs.get["n"])
                if n_out == 0 and kill_event is not None:
                    # empty upsert batch: nothing was written or killed
                    # — don't flip to a pointless no-op version (a
                    # streaming upsert sink sees empty micro-batches
                    # routinely and must not bloat the version chain)
                    import shutil

                    shutil.rmtree(stage, ignore_errors=True)
                    shutil.rmtree(vdir, ignore_errors=True)
                    return 0
            if pre_publish is not None:
                # same post-write / pre-publish gate as _commit
                try:
                    pre_publish(stage, vdir)
                except Exception:
                    import shutil

                    shutil.rmtree(stage, ignore_errors=True)
                    shutil.rmtree(vdir, ignore_errors=True)
                    raise
            adds = self._pool_stage(stage, version)
            self._prime_schema(vdir, batch, base=cur)
        else:
            adds = []
            if cur in self._schema_cache:
                self._schema_cache[vdir] = self._schema_cache[cur]
        dv_adds = self._pool_dv(vdir, version)
        self._write_manifest(version, base_v, adds, [], dv_adds)
        self._finish_commit(version, op, base=base_v, pooled=adds + dv_adds)
        self._publish_staged_events(vdir)
        return n_out

    def _commit_kill(self, doomed: DataFrame, op: str, event_type: str = "delete") -> bool:
        """Kill-only commit driven by ONE job: the doomed-id scan's own
        tasks write the deletion-vector and CDC event files directly
        (pyarrow, executor-side). The new version becomes current only
        if some task materialized a kill — an empty match discards the
        staged version dir and commits nothing. Returns whether a
        commit happened."""
        import shutil

        cur = self._data_path()
        if cur is None or not self._has_parquet(cur):
            return False  # empty collection: nothing can match
        base_v = os.path.basename(cur)
        version = f"v_{uuid.uuid4().hex[:12]}"
        vdir = os.path.join(self.path, version)
        os.makedirs(vdir, exist_ok=True)
        seq = self._seq_next()
        dv_dir = os.path.join(vdir, "_dv")
        # stage events in the version dir; published after the flip
        # (see _publish_staged_events) so an aborted/conflicted delete
        # leaves no phantom change events
        ev_dir = os.path.join(vdir, "_events_staged")
        os.makedirs(dv_dir, exist_ok=True)
        os.makedirs(ev_dir, exist_ok=True)
        coll = os.path.basename(self.path)

        def per_part(rows) -> None:
            import uuid as _uuid
            from datetime import datetime, timezone

            import pyarrow as pa
            import pyarrow.parquet as papq

            ids = [str(r["id"]) for r in rows]
            if not ids:
                return
            tok = _uuid.uuid4().hex[:8]
            papq.write_table(
                pa.table(
                    {
                        "id": pa.array(ids, pa.string()),
                        "kill_seq": pa.array([seq] * len(ids), pa.int64()),
                    }
                ),
                os.path.join(dv_dir, f"kills_{seq}_{tok}.parquet"),
            )
            now = datetime.now(timezone.utc)
            papq.write_table(
                pa.table(
                    {
                        "event_id": pa.array([f"{tok}-{i}" for i in ids], pa.string()),
                        "event_type": pa.array([event_type] * len(ids), pa.string()),
                        "collection": pa.array([coll] * len(ids), pa.string()),
                        "doc_id": pa.array(ids, pa.string()),
                        "ts": pa.array([now] * len(ids), pa.timestamp("us", tz="UTC")),
                    }
                ),
                os.path.join(ev_dir, f"ev_{tok}.parquet"),
            )

        doomed.select(F.col("id").cast("string").alias("id")).foreachPartition(per_part)
        if not any(f.startswith(f"kills_{seq}_") for f in os.listdir(dv_dir)):
            shutil.rmtree(vdir)  # nothing matched: no commit
            return False
        if cur in self._schema_cache:
            self._schema_cache[vdir] = self._schema_cache[cur]
        dv_adds = self._pool_dv(vdir, version)
        self._write_manifest(version, base_v, [], [], dv_adds)
        self._finish_commit(version, op, base=base_v, pooled=dv_adds)
        self._publish_staged_events(vdir)
        return True

    def _wrap_side_effects(
        self, df: DataFrame, vdir: str, seq: int, event_type: str
    ) -> DataFrame:
        """Pass-through ``mapInPandas`` stage for the commit write: each
        write task validates ids/dimensions, streams its rows to the
        parquet writer unchanged, then side-writes ONE kill file
        (deletion vector) and ONE CDC event file via pyarrow. Events are
        STAGED inside the version dir and only published to the shared
        ``_events`` feed after the pointer flip
        (:meth:`_publish_staged_events`) — tasks that finished before a
        failing/conflicting sibling must not leave phantom change
        events for a commit that never happened. Kill files need no
        staging: in a never-pointed version dir they are inert."""
        dv_dir = os.path.join(vdir, "_dv")
        ev_dir = os.path.join(vdir, "_events_staged")
        os.makedirs(dv_dir, exist_ok=True)
        os.makedirs(ev_dir, exist_ok=True)
        coll = os.path.basename(self.path)
        dims = self.config.dimensions

        def run(batches):
            import uuid as _uuid
            from datetime import datetime, timezone

            import pyarrow as pa
            import pyarrow.parquet as papq

            ids: list[str] = []
            seen: set = set()
            for pdf in batches:
                if not pdf.empty and "embedding" in pdf.columns:
                    sizes = pdf["embedding"].map(
                        lambda v: -1 if v is None else len(v)
                    )
                    bad = sizes[sizes != dims]
                    if len(bad):
                        i = bad.index[0]
                        raise ValueError(
                            f"dimension mismatch: expected {dims}, got "
                            f"{sizes[i]} for id {pdf['id'][i]!r}"
                        )
                for i in pdf["id"]:
                    if i is None:
                        raise ValueError("null id in batch")
                    # an id repeated within the batch would append BOTH
                    # rows with _seq == kill_seq (DV keeps both) — a
                    # permanent unique-id violation. The commit write is
                    # hash-partitioned on _bucket(id), so every copy of
                    # an id lands in THIS task: a task-local set is a
                    # complete global dup check, no extra job
                    if i in seen:
                        raise ValueError(
                            f"duplicate id in upsert batch: {i!r}"
                        )
                    seen.add(i)
                    ids.append(str(i))
                yield pdf
            if not ids:
                return
            tok = _uuid.uuid4().hex[:8]
            papq.write_table(
                pa.table(
                    {
                        "id": pa.array(ids, pa.string()),
                        "kill_seq": pa.array([seq] * len(ids), pa.int64()),
                    }
                ),
                os.path.join(dv_dir, f"kills_{seq}_{tok}.parquet"),
            )
            now = datetime.now(timezone.utc)
            papq.write_table(
                pa.table(
                    {
                        "event_id": pa.array(
                            [f"{tok}-{i}" for i in ids], pa.string()
                        ),
                        "event_type": pa.array(
                            [event_type] * len(ids), pa.string()
                        ),
                        "collection": pa.array([coll] * len(ids), pa.string()),
                        "doc_id": pa.array(ids, pa.string()),
                        "ts": pa.array(
                            [now] * len(ids), pa.timestamp("us", tz="UTC")
                        ),
                    }
                ),
                os.path.join(ev_dir, f"ev_{tok}.parquet"),
            )

        return df.mapInPandas(run, schema=df.schema)

    def _publish_staged_events(self, vdir: str) -> None:
        """Move a committed version's staged CDC event files into the
        live ``_events`` feed. Runs strictly AFTER the pointer flip:
        same-filesystem renames, each atomic, so stream readers only
        ever see whole files and aborted commits publish nothing."""
        staged = os.path.join(vdir, "_events_staged")
        if not os.path.isdir(staged):
            return
        ev_dir = os.path.join(self.path, "_events")
        os.makedirs(ev_dir, exist_ok=True)
        for fn in os.listdir(staged):
            if fn.endswith(".parquet"):
                os.rename(
                    os.path.join(staged, fn), os.path.join(ev_dir, fn)
                )
        try:
            os.rmdir(staged)
        except OSError:
            pass

    def _bucket_rows(self, touched: list[int]) -> DataFrame:
        """Current rows of the touched buckets only — the read is
        pruned to those partition dirs. On a legacy non-bucketed
        snapshot this returns the FULL table (no ``_bucket`` column to
        prune on); the paired _commit_delta then does a full migrating
        rewrite, so DML on old collections works instead of raising."""
        p = self._data_path()
        if p is None or not self._has_parquet(p):
            return self.df()
        # drop _ann_list: a DML rewrite mixes carried rows with new ones
        # whose list id is unknown — a rewritten file carrying partial
        # stats could be WRONGLY file-skipped by the ANN fallback, so
        # rewritten buckets lose the column (they scan until the next
        # optimize(ann_cluster=True), the standard clustering-erosion
        # contract)
        if not self._snapshot_bucketed():
            return self._apply_dv(self._read_snapshot(p), p).drop("_ann_list")
        return self._apply_dv(
            self._read_snapshot(p).filter(
                F.col("_bucket").isin([int(t) for t in touched])
            ),
            p,
        ).drop("_bucket", "_ann_list")

    def _touched_buckets(self, ids_df: DataFrame) -> list[int]:
        return [
            r["b"]
            for r in ids_df.select(
                self._bucket(F.col("id")).alias("b")
            ).distinct().collect()
        ]

    def history(self) -> list[dict]:
        """Commit log, oldest first (Delta ``DESCRIBE HISTORY``)."""
        p = os.path.join(self.path, "_versions")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    def restore(self, version: str) -> None:
        """Point the collection back at an earlier snapshot (Delta
        ``RESTORE``) — recorded as a new history entry; no data moves.
        Takes the commit lock like every other pointer flip, so a
        restore cannot interleave with a concurrent writer's
        check-and-flip."""
        if not os.path.isdir(os.path.join(self.path, version)):
            raise ValueError(f"unknown version: {version}")
        import time

        with self._commit_lock():
            self._flip_pointer(version)
            with open(os.path.join(self.path, "_versions"), "a") as f:
                f.write(json.dumps({"version": version, "op": "restore",
                                    "ts": time.time()}) + "\n")

    def optimize(
        self,
        target_partitions: int | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
        zorder_by: list[str] | None = None,
        ann_cluster: bool = False,
    ) -> None:
        """Compact the current snapshot (Delta ``OPTIMIZE``): rewrite
        the table into ``target_partitions`` files. Default target is
        derived from the snapshot's on-disk size / ``target_file_bytes``
        (128 MB files — Delta's bin-packing default), so a 100 TB table
        compacts to ~800K right-sized files, not one. Small-file
        pressure is the classic failure mode of append-heavy tables at
        scale; this is the maintenance job that fixes it. Committed as
        a new version — readers and time travel are unaffected.

        ``zorder_by`` additionally clusters the rewrite on the Morton
        interleave of the named metadata columns (Delta ``ZORDER BY``):
        each output file then covers a compact hyper-rectangle of the
        key space, so min/max file stats prune multi-column range
        filters (functions/zorder.py)."""
        if target_partitions is None:
            p = self._data_path()
            on_disk = 0
            if p and os.path.isdir(p):
                ver = os.path.basename(p)
                if self._load_manifest(ver) is not None:
                    on_disk = sum(
                        os.path.getsize(os.path.join(self.path, rel))
                        for rel in self._resolve(ver)[0]
                    )
                else:
                    for root, _dirs, files in os.walk(p):
                        on_disk += sum(
                            os.path.getsize(os.path.join(root, fn))
                            for fn in files
                            if fn.endswith(".parquet")
                        )
            target_partitions = max(1, -(-on_disk // target_file_bytes))
        # _commit lays files out as n_buckets × files_per_bucket — a
        # bare coalesce() here would be overridden by its bucket
        # repartition, silently ignoring the sizing
        fpb = max(1, -(-int(target_partitions) // self.config.n_buckets))
        if ann_cluster:
            # Cluster the rewrite by IVF list id (``OPTIMIZE ... BY
            # ann``): rows carry their list id as a STORED internal
            # column (``_ann_list``, hidden from reads like ``_seq``),
            # files within each bucket split by contiguous list RANGE
            # and rows sort by list id — so each file's parquet footer
            # carries a tight [min,max] list interval. The distributed
            # ANN fallback then prunes whole files driver-side from
            # footer stats (Iceberg-style planning) and pushes an
            # ``_ann_list IN probes`` filter into the surviving scans
            # (row-group skipping) — IO pruning on top of the codegen
            # compute pruning. Later DML rewrites drop the column from
            # touched buckets (those files just stop skipping until the
            # next optimize) and a centroid retrain disables stats use
            # entirely via the train-version marker.
            if zorder_by:
                raise ValueError(
                    "ann_cluster and zorder_by are mutually exclusive "
                    "(one physical sort order per rewrite)"
                )
            if self._current_version() is None or self.count() == 0:
                raise ValueError(
                    "ann_cluster requires a non-empty collection "
                    "(nothing to train or cluster)"
                )
            # sizing law (README §ANN at-rest clustering): a probe of
            # nprobe lists must be able to SKIP most of a bucket's
            # files, so clustering pays only when files-per-bucket
            # comfortably exceeds the probe width — measured at bench
            # scale (fpb ≈ nprobe) the clustered fallback served 5.23
            # QPS vs the plain scan's 8.3 after paying 7.5 s to
            # cluster. Warn rather than refuse (target_partitions may
            # be sized deliberately for a growing collection), but make
            # the break-even explicit so nobody pays for a slowdown
            # unknowingly.
            if fpb <= _ANN_CLUSTER_MIN_FPB:
                import warnings

                warnings.warn(
                    f"ann_cluster=True with {fpb} file(s) per bucket: "
                    f"below the break-even (files-per-bucket > "
                    f"{_ANN_CLUSTER_MIN_FPB} ≈ default nprobe) file "
                    "skipping cannot pay for the clustering rewrite — "
                    "expect NO query speedup at this size. Raise "
                    "target_partitions or skip ann_cluster until the "
                    "collection grows.",
                    stacklevel=2,
                )
            st = self._ann()
            if st.centroids is None and not st.load():
                st.train()
            # capture the identity of the centroids we cluster UNDER —
            # if a concurrent ensure() retrains mid-rewrite, the marker
            # written below then mismatches the live nonce and the
            # stale footer stats are correctly ignored
            train_nonce = st.meta["train_nonce"]
            n_lists = int(st.centroids.shape[0])
            lid = st._list_id(F.col("embedding"), st.centroids)
            out = self.df().withColumn("_ann_list", lid.cast("int"))
            out = out.withColumn(
                "_zorder", F.col("_ann_list")
            ).withColumn(
                "_fsplit",
                F.floor(F.col("_ann_list") * fpb / F.lit(n_lists)),
            )
            self._commit(out, op="optimize", files_per_bucket=fpb)
            # content-preserving rewrite: re-stamp the trained
            # watermark (fresh _seq on every row would read as 100%
            # drift) and mark the clustering valid for these centroids
            st.refresh_watermark()
            st.mark_clustered(self._current_version(), train_nonce)
            return
        if zorder_by:
            # the commit layout is bucket-partitioned (DML pruning), so
            # Z-clustering happens WITHIN each bucket: _commit sorts
            # bucket tasks on this key before writing, giving tight
            # parquet row-group min/max stats on every z-column
            # (row-group-level skipping; file-level pruning stays with
            # the _bucket dirs)
            from fastpyvectordb_spark.functions.zorder import zorder_key

            out = self.df()
            out = out.withColumn("_zorder", zorder_key(out, zorder_by))
        else:
            out = self.df()
        self._commit(out, op="optimize", files_per_bucket=fpb)

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Drop snapshots older than the last ``keep_last`` history
        entries (never the current pointer) — Delta ``VACUUM``. Returns
        the removed version names; time travel to them is gone.

        Manifest mechanics: every RETAINED manifest version is first
        rewritten as a full checkpoint, so no kept chain folds through
        a dropped version dir. Pool files are then garbage-collected
        when they belong to a dropped version (``{version}-`` filename
        prefix) and no retained manifest references them. Files staged
        by an IN-FLIGHT commit carry a version not yet in history, so
        they are never GC'd from under a concurrent writer; orphans
        from crashed commits (never-committed versions) are likewise
        left alone — bounded by crash count, not commit count."""
        import shutil

        hist = self.history()
        keep = {h["version"] for h in hist[-max(keep_last, 1):]}
        cur = self._current_version()
        if cur:
            keep.add(cur)
        # checkpoint kept manifest versions (self-contained chains)
        referenced: set[str] = set()
        for v in sorted(keep):
            if self._load_manifest(v) is None:
                continue
            files, dv = self._resolve(v)
            m = {"kind": "checkpoint", "depth": 0, "files": files, "dv": dv}
            tmp = os.path.join(
                self.path, v, f".manifest.{uuid.uuid4().hex[:8]}.tmp"
            )
            with open(tmp, "w") as f:
                f.write(json.dumps(m))
            os.rename(tmp, self._manifest_file(v))
            referenced.update(files)
            referenced.update(dv)
        removed = []
        dropped: set[str] = set()
        for h in hist:
            v = h["version"]
            vp = os.path.join(self.path, v)
            if v not in keep and os.path.isdir(vp):
                shutil.rmtree(vp)
                removed.append(v)
            if v not in keep:
                dropped.add(v)
                self._mf_cache.pop(v, None)
        # GC pool files of dropped versions that nothing kept references
        pool = self._pool_root()
        if os.path.isdir(pool):
            for root, _dirs, fns in os.walk(pool):
                for fn in fns:
                    if not fn.endswith(".parquet"):
                        continue
                    owner = fn.split("-", 1)[0]
                    rel = os.path.relpath(os.path.join(root, fn), self.path)
                    if owner in dropped and rel not in referenced:
                        try:
                            os.unlink(os.path.join(root, fn))
                        except OSError:
                            pass
        return removed

    # -- change feed (R5: ObservableCollection, realtime.py:325-442) --

    def _emit(
        self, event_type: str, ids_df: DataFrame | None,
        to_dir: str | None = None,
    ) -> None:
        """Append CDC events for a mutation to the collection's event
        log (parquet append — the poor-man's Delta Change Data Feed).
        ``events_stream()`` turns this into a live subscription source.
        ``to_dir`` writes to a staging dir instead (published after the
        pointer flip via :meth:`_publish_staged_events`, which moves
        every ``*.parquet`` in the staging dir)."""
        if ids_df is None:
            return
        ev = ids_df.select(
            F.concat(F.lit(uuid.uuid4().hex[:8] + "-"), F.col("id")).alias(
                "event_id"
            ),
            F.lit(event_type).alias("event_type"),
            F.lit(os.path.basename(self.path)).alias("collection"),
            # string like every other event writer: the stream schema
            # is ``doc_id string`` whatever the collection's id type
            F.col("id").cast("string").alias("doc_id"),
            F.current_timestamp().alias("ts"),
        )
        ev.write.mode("append").parquet(
            to_dir if to_dir is not None
            else os.path.join(self.path, "_events")
        )

    def _stage_event_ids(self, ev_dir: str, event_type: str, ids) -> None:
        """Driver-side pyarrow CDC staging for ids already in Python —
        one file write (~ms) instead of a Spark job; same schema as
        :meth:`_emit_ids`, written into a version staging dir for
        post-flip publish."""
        if not len(ids):
            return
        from datetime import datetime, timezone

        import pyarrow as pa
        import pyarrow.parquet as papq

        now = datetime.now(timezone.utc)
        prefix = uuid.uuid4().hex[:8]
        t = pa.table(
            {
                "event_id": pa.array(
                    [f"{prefix}-{i}" for i in ids], pa.string()
                ),
                "event_type": pa.array([event_type] * len(ids), pa.string()),
                "collection": pa.array(
                    [os.path.basename(self.path)] * len(ids), pa.string()
                ),
                "doc_id": pa.array([str(i) for i in ids], pa.string()),
                "ts": pa.array([now] * len(ids), pa.timestamp("us", tz="UTC")),
            }
        )
        os.makedirs(ev_dir, exist_ok=True)
        papq.write_table(t, os.path.join(ev_dir, f"ev_{prefix}.parquet"))

    def _emit_ids(self, event_type: str, ids: list) -> None:
        """Driver-side CDC append for id lists already in Python —
        a pyarrow file write (~ms) instead of a Spark job. Same schema
        as :meth:`_emit` (UTC-adjusted micros timestamps)."""
        if not ids:
            return
        from datetime import datetime, timezone

        import pyarrow as pa
        import pyarrow.parquet as papq

        now = datetime.now(timezone.utc)
        prefix = uuid.uuid4().hex[:8]
        t = pa.table(
            {
                "event_id": pa.array([f"{prefix}-{i}" for i in ids], pa.string()),
                "event_type": pa.array([event_type] * len(ids), pa.string()),
                "collection": pa.array(
                    [os.path.basename(self.path)] * len(ids), pa.string()
                ),
                "doc_id": pa.array([str(i) for i in ids], pa.string()),
                "ts": pa.array([now] * len(ids), pa.timestamp("us", tz="UTC")),
            }
        )
        evdir = os.path.join(self.path, "_events")
        os.makedirs(evdir, exist_ok=True)
        papq.write_table(t, os.path.join(evdir, f"ev_{prefix}.parquet"))

    def events_df(self) -> DataFrame:
        """The change log as a batch DataFrame (replay; R3)."""
        p = os.path.join(self.path, "_events")
        if not os.path.exists(p):
            return self.spark.createDataFrame(
                [],
                "event_id string, event_type string, collection string, "
                "doc_id string, ts timestamp",
            )
        return self.spark.read.parquet(p)

    def events_stream(self) -> DataFrame:
        """The change log as a streaming source (readStream) —
        subscription filters from streaming/events.py apply directly."""
        p = os.path.join(self.path, "_events")
        # subscribing BEFORE the first mutation is the normal CDC setup
        # order — readStream raises PATH_NOT_FOUND on a missing dir, so
        # create the (empty) feed eagerly
        os.makedirs(p, exist_ok=True)
        schema = (
            "event_id string, event_type string, collection string, "
            "doc_id string, ts timestamp"
        )
        return self.spark.readStream.schema(schema).parquet(p)

    # -- DML (D1-D9) --------------------------------------------------

    def _validate(self, batch: DataFrame) -> DataFrame:
        # coerce to float32 like the reference (vectordb_optimized.py:346)
        # — also keeps every snapshot's parquet schema merge-compatible.
        # Dimension checking happens inside _batch_stats (one fused job).
        return batch.withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        )

    def _batch_stats(self, batch: DataFrame, find_dups: bool = True):
        """ONE job over the incoming batch returning
        ``(n_rows, touched_buckets, in_batch_dup_id, bad_dim_row)``.
        Round-1 DML ran validate / count / touched-buckets as three
        separate collects — three full scans of the batch, each with a
        whole Spark-job floor. Fusing them into a single groupBy+agg
        pass is the difference between 450 and >1k rows/s on point DML
        (and it is the same one-pass shape a Delta MERGE's source-scan
        does). ``find_dups=False`` (upsert: duplicates are legal)
        drops the per-id groupBy — the whole pass becomes a narrow
        partial+final aggregate with no shuffle."""
        dims = self.config.dimensions
        src = batch.select(
            "id",
            F.size("embedding").alias("_sz"),
            self._bucket(F.col("id")).alias("_b"),
        )
        if find_dups:
            src = src.groupBy("id").agg(
                F.count(F.lit(1)).alias("_c"),
                F.first("_sz").alias("_sz"),
                F.first("_b").alias("_b"),
            )
        else:
            src = src.withColumn("_c", F.lit(1))
        row = src.agg(
            F.sum("_c").alias("n"),
            F.min(F.when(F.col("_c") > 1, F.col("id"))).alias("dup_id"),
            F.min(
                F.when(
                    F.col("_sz") != dims,
                    F.struct(F.col("_sz").alias("sz"), F.col("id").alias("id")),
                )
            ).alias("bad"),
            F.collect_set("_b").alias("buckets"),
            # nulls are invisible to the checks above (NULL != dims is
            # NULL, a NULL id hashes to a NULL bucket) — count them
            # explicitly or they commit and then sort FIRST in every
            # kNN (NULL dist) / break bucket-dir parsing
            F.sum(F.col("id").isNull().cast("int")).alias("null_ids"),
            F.sum(
                (F.col("id").isNotNull() & F.col("_sz").isNull()).cast("int")
            ).alias("null_vecs"),
        ).collect()[0]
        if int(row["null_ids"] or 0) > 0:
            raise ValueError("null id in batch")
        if int(row["null_vecs"] or 0) > 0:
            raise ValueError("null embedding in batch")
        n = int(row["n"] or 0)
        return n, [int(b) for b in row["buckets"]], row["dup_id"], row["bad"]

    def _rows_to_batch(self, rows: list[dict]) -> DataFrame:
        """Row dicts → DataFrame with an EXPLICIT schema: inference
        raises on any key whose values are None in every row (a legal
        metadata shape — None round-trips as SQL NULL); type each key
        from its first non-None value, bool before int (a bool IS an
        int in Python), all-None defaulting to string."""
        from pyspark.sql.types import (
            ArrayType,
            BooleanType,
            DoubleType,
            FloatType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        keys: list[str] = []
        for r in rows:
            for k in r:
                if k not in keys and k not in ("id", "embedding"):
                    keys.append(k)

        def key_type(k):
            for r in rows:
                v = r.get(k)
                if v is None:
                    continue
                if isinstance(v, bool):
                    return BooleanType()
                if isinstance(v, int):
                    return LongType()
                if isinstance(v, float):
                    return DoubleType()
                return StringType()
            return StringType()

        schema = StructType(
            [
                StructField("id", StringType()),
                StructField("embedding", ArrayType(FloatType())),
                *[StructField(k, key_type(k)) for k in keys],
            ]
        )
        shaped = [
            {
                "id": None if r.get("id") is None else str(r["id"]),
                "embedding": (
                    None
                    if r.get("embedding") is None
                    else [float(x) for x in r["embedding"]]
                ),
                **{k: r.get(k) for k in keys},
            }
            for r in rows
        ]
        return self.spark.createDataFrame(shaped, schema)

    def insert(
        self,
        vector: Sequence[float],
        id: str,
        metadata: dict | None = None,
    ) -> str:
        """D1: single-row insert sugar over insert_batch
        (ref vectordb_optimized.py:337-365)."""
        # metadata first — a user metadata key named id/embedding must
        # not clobber the row's identity or vector
        row = {
            **(metadata or {}),
            "id": id,
            "embedding": [float(v) for v in vector],
        }
        self.insert_batch(self._rows_to_batch([row]))
        return id

    # above this many rows the post-write checks stay Spark-side: the
    # driver-local id read (~50 B/row) is bounded to ~100 MB
    _INSERT_DRIVER_CHECK_MAX_ROWS = 2_000_000

    def _staged_ids(self, stage: str, n: int):
        """(ids, touched_buckets) of a staged commit write. ``ids`` is
        a Python list read straight off the staged parquet footprint
        (column-pruned pyarrow read, no Spark job) when the batch is
        driver-safe, else None; ``touched_buckets`` comes from the
        ``_bucket=`` partition dirs either way."""
        import pyarrow.parquet as papq

        touched: list[int] = []
        files: list[str] = []
        for d in sorted(os.listdir(stage)):
            if not d.startswith("_bucket="):
                continue
            b = d.split("=", 1)[1]
            if b.isdigit():
                touched.append(int(b))
            p = os.path.join(stage, d)
            files += [
                os.path.join(p, f)
                for f in sorted(os.listdir(p))
                if f.endswith(".parquet")
            ]
        if n > self._INSERT_DRIVER_CHECK_MAX_ROWS:
            return None, touched
        ids: list = []
        for f in files:
            ids += papq.read_table(f, columns=["id"]).column("id").to_pylist()
        return ids, touched

    def insert_batch(self, batch: DataFrame) -> int:
        """D2: append; duplicate ids rejected (ref :345-348, 388-396).

        Plan shape (r12, VERDICT r11 #4): one cheap count job sizes the
        write, then ONE commit-write job carries ALL row validation
        JVM-side via ``observe`` (row count, null ids/embeddings, dim
        mismatch — guide §4: no Python pass touches the batch), and the
        in-batch dup check, snapshot dup probe and CDC staging run
        between the write and the manifest publish AGAINST THE STAGED
        BYTES: ids come off the staged parquet footers driver-side
        (bounded; Spark-side above _INSERT_DRIVER_CHECK_MAX_ROWS), so
        nondeterministic lineage is recorded exactly as written and the
        batch is never persisted or re-scanned. A failed check aborts
        before anything is pooled or pointed at. The r11 shape paid a
        persist + fused stats job (2.49 s at the 100k bench point) + a
        post-commit CDC job (0.99 s) that this removes; CDC events now
        stage in the version dir and publish after the pointer flip
        (the same once-visible contract the upsert path already had)."""
        from pyspark.sql import Observation

        batch = self._validate(batch)
        n = batch.count()
        if n == 0:
            return 0
        dims = self.config.dimensions
        obs = Observation()
        _sz = F.size("embedding")
        batch = batch.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("id").isNull().cast("int")).alias("null_ids"),
            F.sum(
                (F.col("id").isNotNull() & _sz.isNull()).cast("int")
            ).alias("null_vecs"),
            F.min(
                F.when(
                    _sz != dims,
                    F.struct(_sz.alias("sz"), F.col("id").alias("id")),
                )
            ).alias("bad"),
        )
        out_n: list[int] = [n]

        def pre_publish(stage: str, vdir: str) -> None:
            row = obs.get
            if int(row["null_ids"] or 0) > 0:
                raise ValueError("null id in batch")
            if int(row["null_vecs"] or 0) > 0:
                raise ValueError("null embedding in batch")
            bad = row["bad"]
            if bad is not None:
                raise ValueError(
                    f"dimension mismatch: expected {dims}, "
                    f"got {bad['sz']} for id {bad['id']!r}"
                )
            n_out = int(row["n"] or 0)
            out_n[0] = n_out
            ids, touched = self._staged_ids(stage, n_out)
            staged_df = None
            if ids is not None:
                if len(set(ids)) != len(ids):
                    from collections import Counter

                    c = Counter(ids)
                    dup_id = min(i for i, k in c.items() if k > 1)
                    raise ValueError(f"duplicate id in batch: {dup_id!r}")
            else:
                staged_df = self.spark.read.parquet(stage).select("id")
                r = (
                    staged_df.groupBy("id")
                    .count()
                    .filter("count > 1")
                    .agg(F.min("id"))
                    .collect()[0][0]
                )
                if r is not None:
                    raise ValueError(f"duplicate id in batch: {r!r}")
            cur = self._data_path()
            if cur is not None and self._has_parquet(cur):
                if ids is not None:
                    import pandas as pd

                    staged_df = F.broadcast(
                        self.spark.createDataFrame(
                            pd.DataFrame({"id": pd.Series(ids, dtype=object)})
                        )
                    )
                dup = (
                    self._bucket_rows(touched)
                    .select("id")
                    .join(staged_df, "id", "inner")
                    .limit(1)
                    .collect()
                )
                if dup:
                    raise ValueError(f"duplicate id {dup[0]['id']!r}")
            # CDC events: staged in the version dir, published after
            # the pointer flip by _publish_staged_events
            ev_dir = os.path.join(vdir, "_events_staged")
            et = "batch_insert" if n_out > 1 else "insert"
            if ids is not None:
                self._stage_event_ids(ev_dir, et, ids)
            else:
                self._emit(et, self.spark.read.parquet(stage), to_dir=ev_dir)

        self._commit_append(
            batch, op="insert", n_rows=n, pre_publish=pre_publish
        )
        return out_n[0]

    def upsert(self, batch: DataFrame) -> int:
        """D3: MERGE WHEN MATCHED UPDATE, deletion-vector style: one
        fused stats job sizes/validates the batch, then ONE commit
        records the batch ids as kills and appends the new rows — the
        existing table is never read or rewritten (Delta's DV MERGE
        fast path). Legacy non-bucketed snapshots take the old
        copy-on-write rewrite, which migrates them."""
        batch = self._validate(batch)
        cur = self._data_path()
        if (
            cur is not None
            and self._has_parquet(cur)
            and self._snapshot_bucketed()
        ):
            # size probe: ONE bounded Arrow collect. Small batches take
            # the zero-job driver path (pyarrow writes the bucket
            # files / DV / CDC directly — the same trick as
            # delete(verify_existing=False), and the reference's
            # small-upsert regime); big batches fall through to the
            # distributed single-job commit.
            probe = (
                batch.withColumn("_bucket", self._bucket())
                .limit(_LOCAL_DML_MAX_ROWS + 1)
                .toArrow()
            )
            if probe.num_rows <= _LOCAL_DML_MAX_ROWS:
                return self._upsert_local(probe, batch, cur)
            # fast path: kill + append + CDC + dim-check + row count all
            # inside the ONE commit-write job (see _wrap_side_effects)
            n = self._commit_append(
                batch, op="upsert", kill_ids=batch.select("id"),
                kill_event="update",
            )
            return n if n is not None else 0
        n, touched, _dup, bad = self._batch_stats(batch, find_dups=False)
        if bad is not None:
            raise ValueError(
                f"dimension mismatch: expected {self.config.dimensions}, "
                f"got {bad['sz']} for id {bad['id']!r}"
            )
        if n == 0:
            return 0
        if cur is None or not self._has_parquet(cur):
            self._commit(batch, op="upsert")
        else:  # legacy non-bucketed: copy-on-write rewrite migrates it
            kept = self._bucket_rows(touched).join(
                batch.select("id"), "id", "left_anti"
            )
            self._commit_delta(
                kept.unionByName(batch, allowMissingColumns=True), touched,
                op="upsert",
            )
        self._emit("update", batch.select("id"))
        return n

    def _upsert_local(self, tbl, batch: DataFrame, cur: str) -> int:
        """Driver-local small-batch upsert: the batch already sits on
        the driver as an Arrow table (with its ``_bucket`` column), so
        validation, per-bucket data files, the deletion vector, and the
        staged CDC events are all written with pyarrow — zero Spark
        jobs beyond the collect that produced ``tbl``. Same commit
        protocol as :meth:`_commit_append` (hard-link base files, DV
        kill, staged events published after the pointer flip, optimistic
        conflict check), same error surface (dimension / null-id /
        in-batch-duplicate ValueErrors raised BEFORE any file exists).
        Reference parity: this is the regime where the reference's
        sequential upsert (benchmark notes, 3,239 rows/s) lives —
        per-commit overhead here is file I/O, not job scheduling.

        Files written by pyarrow carry no parquet bloom filter on id
        (writer limitation); they are ≤``_LOCAL_DML_MAX_ROWS`` rows, so
        a point-probe scans them in microseconds, and optimize()
        rewrites them with blooms."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as papq

        n = tbl.num_rows
        if n == 0:
            return 0
        dims = self.config.dimensions
        if "embedding" in tbl.schema.names:
            lens = pc.list_value_length(tbl.column("embedding")).to_pylist()
        else:
            lens = [None] * n
        raw_ids = tbl.column("id").to_pylist()
        for rid, ln in zip(raw_ids, lens):
            sz = -1 if ln is None else ln
            if sz != dims:
                raise ValueError(
                    f"dimension mismatch: expected {dims}, got {sz} "
                    f"for id {rid!r}"
                )
        seen: set = set()
        for rid in raw_ids:
            if rid is None:
                raise ValueError("null id in batch")
            if rid in seen:
                raise ValueError(f"duplicate id in upsert batch: {rid!r}")
            seen.add(rid)
        ids = [str(i) for i in raw_ids]

        version = f"v_{uuid.uuid4().hex[:12]}"
        vdir = os.path.join(self.path, version)
        os.makedirs(vdir, exist_ok=True)
        base_v = os.path.basename(cur)
        seq = self._seq_next()
        tok = uuid.uuid4().hex[:8]

        # new data files go straight into the pool (invisible until the
        # manifest references them); the base snapshot's files carry
        # forward as manifest references — zero per-file syscalls
        data = tbl.append_column(
            "_seq", pa.array([seq] * n, pa.int64())
        )
        bvals = data.column("_bucket").to_pylist()
        data = data.remove_column(data.schema.get_field_index("_bucket"))
        by_bucket: dict[int, list[int]] = {}
        for idx, b in enumerate(bvals):
            by_bucket.setdefault(int(b), []).append(idx)
        adds: list[str] = []
        for b, idxs in sorted(by_bucket.items()):
            dst_dir = os.path.join(self._pool_root(), f"_bucket={b}")
            os.makedirs(dst_dir, exist_ok=True)
            dst = os.path.join(dst_dir, f"{version}-part-local-{tok}.parquet")
            papq.write_table(
                data.take(pa.array(idxs, pa.int64())), dst
            )
            adds.append(os.path.relpath(dst, self.path))

        dv_dir = os.path.join(self._pool_root(), "_dv")
        os.makedirs(dv_dir, exist_ok=True)
        dv_dst = os.path.join(dv_dir, f"{version}-kills_{seq}_{tok}.parquet")
        papq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.string()),
                    "kill_seq": pa.array([seq] * n, pa.int64()),
                }
            ),
            dv_dst,
        )
        dv_adds = [os.path.relpath(dv_dst, self.path)]
        from datetime import datetime, timezone

        ev_dir = os.path.join(vdir, "_events_staged")
        os.makedirs(ev_dir, exist_ok=True)
        now = datetime.now(timezone.utc)
        coll = os.path.basename(self.path)
        papq.write_table(
            pa.table(
                {
                    "event_id": pa.array(
                        [f"{tok}-{i}" for i in ids], pa.string()
                    ),
                    "event_type": pa.array(["update"] * n, pa.string()),
                    "collection": pa.array([coll] * n, pa.string()),
                    "doc_id": pa.array(ids, pa.string()),
                    "ts": pa.array(
                        [now] * n, pa.timestamp("us", tz="UTC")
                    ),
                }
            ),
            os.path.join(ev_dir, f"ev_{tok}.parquet"),
        )
        self._write_manifest(version, base_v, adds, [], dv_adds)
        self._prime_schema(vdir, batch, base=cur)
        self._finish_commit(
            version, "upsert", base=base_v, pooled=adds + dv_adds
        )
        self._publish_staged_events(vdir)
        return n

    def delete(
        self,
        ids: Sequence[str] | None = None,
        where: Filter | dict | None = None,
        verify_existing: bool = True,
    ) -> None:
        """D5/D6: deletion-vector tombstoning by id set and/or filter.

        ``verify_existing=False`` (id-list deletes only) skips the
        existence scan entirely: the kill file and CDC events are
        written for the REQUESTED ids in one links-only commit with no
        Spark job at all — kills of absent ids are inert, and CDC
        records the delete request rather than verified row deletes
        (plain SQL ``DELETE`` semantics; the default scan-verified path
        is Delta-CDF-faithful)."""
        cur_p = self._data_path()
        if cur_p is None or not self._has_parquet(cur_p):
            return  # empty collection: nothing can match (and a where
            # predicate on absent metadata columns could not resolve)
        if not verify_existing and ids and where is None and self._snapshot_bucketed():
            # zero-job O(ids) commit: one pooled kill file + a manifest
            # delta — no scan, no listing, no per-file metadata
            id_list = [str(i) for i in ids]
            version = f"v_{uuid.uuid4().hex[:12]}"
            vdir = os.path.join(self.path, version)
            os.makedirs(vdir, exist_ok=True)
            self._write_kills(vdir, id_list, self._seq_next())
            dv_adds = self._pool_dv(vdir, version)
            self._write_manifest(
                version, os.path.basename(cur_p), [], [], dv_adds
            )
            if cur_p in self._schema_cache:
                self._schema_cache[vdir] = self._schema_cache[cur_p]
            self._finish_commit(
                version,
                op="delete",
                base=os.path.basename(cur_p),
                pooled=dv_adds,
            )
            self._emit_ids("delete", id_list)
            return
        cond = None
        if ids is not None:
            cond = F.col("id").isin(list(ids))
        if where is not None:
            f = from_dict(where) if isinstance(where, dict) else where
            cond = f.col() if cond is None else (cond | f.col())
        if cond is None:
            return
        if not self._snapshot_bucketed():
            # legacy layout: copy-on-write rewrite (migrates to buckets)
            cur = self.df()
            doomed = (
                cur.filter(F.coalesce(cond, F.lit(False)))
                .select("id")
                .localCheckpoint()
            )
            touched = self._touched_buckets(doomed)
            if not touched:
                return
            kept = self._bucket_rows(touched).filter(
                ~F.coalesce(cond, F.lit(False))
            )
            self._commit_delta(kept, touched, op="delete")
            self._emit("delete", doomed)
            return
        # deletion-vector delete: ONE job — the doomed-id scan's tasks
        # write the kill + CDC event files as they match (existence is
        # checked by what materializes, so no separate probe/collect);
        # the commit itself is hard links + a pointer flip. Small id
        # lists prune the scan to their hash buckets; hash-spread lists
        # (≥4×n_buckets ids) touch every bucket anyway and skip the
        # pruning job.
        if where is None and ids and len(ids) < self.config.n_buckets * 4:
            ids_df = self.spark.createDataFrame(
                [(str(i),) for i in ids], "id string"
            )
            scope = self._bucket_rows(self._touched_buckets(ids_df))
        else:
            scope = self.df()
        doomed = scope.filter(F.coalesce(cond, F.lit(False))).select("id")
        self._commit_kill(doomed, op="delete")

    def update(
        self,
        ids: Sequence[str],
        metadata: dict | None = None,
        texts: dict | None = None,
        embed_dimensions: int | None = None,
    ) -> int:
        """D7 (fastpyvectordb/client.py:357-394 shape): merge metadata
        columns and/or replace text + re-embed for the given ids — a
        read-modify-write MERGE.

        Round 4: the modified rows route through :meth:`upsert` (kill +
        append — and for point updates that is the zero-write-job
        driver-local path), so an update touches O(len(ids)) rows
        instead of rewriting the ids' whole hash buckets. The read side
        stays bucket-pruned."""
        ids_df = self.spark.createDataFrame(
            [(i,) for i in ids], "id string"
        )
        touched = self._touched_buckets(ids_df)
        hit = (
            self._bucket_rows(touched)
            .filter(F.col("id").isin(list(ids)))
            .drop("_bucket")
        )
        for k, v in (metadata or {}).items():
            hit = hit.withColumn(k, F.lit(v))
        if texts:
            from fastpyvectordb_spark.embeddings import embed_column

            mapping = F.create_map(
                *[F.lit(x) for kv in texts.items() for x in kv]
            )
            hit = hit.withColumn("text", mapping[F.col("id")])
            hit = embed_column(
                hit, "text", out_col="embedding",
                dimensions=embed_dimensions or self.config.dimensions,
            )
        return self.upsert(hit)

    def get(self, ids: Sequence[str], include_vector: bool = True) -> DataFrame:
        """D4: point lookup — partition-pruned to the ids' hash buckets
        (reads 1/n_buckets of the files per distinct bucket hit)."""
        ids_df = self.spark.createDataFrame([(i,) for i in ids], "id string")
        touched = self._touched_buckets(ids_df)
        df = self._bucket_rows(touched).filter(F.col("id").isin(list(ids)))
        return df if include_vector else df.drop("embedding")

    def get_local(
        self, ids: Sequence[str], include_vector: bool = True
    ) -> list[dict] | None:
        """Zero-job point lookup through the serving pack (the
        reference's dict-get regime, vectordb_optimized.py get):
        binary-search each id in the version-current pack and slice
        its row from the resident Arrow table — O(k log N) per call,
        no Spark job. Returns row dicts in input order (missing ids
        skipped, like :meth:`get`), or None when the collection is
        above the pack threshold — callers fall back to the
        distributed :meth:`get`."""
        pack = self.pack_serving()
        if pack is None:
            return None
        tbl, idx = pack["tbl"], pack["rows"]
        out = []
        for rid in ids:
            pos = idx.get(rid)
            if pos is None:
                continue
            row = tbl.slice(pos, 1).to_pylist()[0]
            if not include_vector:
                row.pop("embedding", None)
            out.append(row)
        return out

    def count(self) -> int:
        # answer from the CACHED version-current pack when warm (zero
        # jobs — the serving regime's hot path calls count per
        # request). Deliberately reads the cache directly instead of
        # pack_serving(): the full pack build itself calls count(), so
        # routing through a refresh here would recurse.
        cached = getattr(self, "_serving_pack", None)
        if (
            cached is not None
            and cached[1] is not None
            and cached[0] == self._current_version()
        ):
            return len(cached[1]["ids"])
        return self.df().count()

    def files(self) -> DataFrame:
        """Snapshot file inventory (Iceberg ``files`` / Delta
        ``DESCRIBE DETAIL``): one row per live data file — path,
        bucket, bytes, footer row count and row-group count. The
        listing is one filesystem walk on the driver (what a manifest
        read costs); footers are opened EXECUTOR-side via mapInPandas,
        so a million-file table fans the footer reads out instead of
        funnelling them through the driver."""
        cur = self._data_path()
        rows = []
        if cur and os.path.isdir(cur):
            ver = os.path.basename(cur)
            if self._load_manifest(ver) is not None:
                # manifest version: the inventory IS the resolved
                # manifest (DV refs excluded by construction)
                for rel in self._resolve(ver)[0]:
                    p = os.path.join(self.path, rel)
                    rows.append(
                        (p, self._bucket_of_path(rel), os.path.getsize(p))
                    )
            else:
                for root, _dirs, fns in os.walk(cur):
                    # metadata dirs (DV kill files, staged stream
                    # batches) are not live data — same exclusion as
                    # _has_parquet
                    _dirs[:] = [
                        d for d in _dirs if d not in ("_dv", "_events_staged")
                    ]
                    seg = os.path.basename(root)
                    bucket = (
                        int(seg.split("=", 1)[1])
                        if seg.startswith("_bucket=")
                        else -1
                    )
                    for fn in fns:
                        if fn.endswith(".parquet"):
                            p = os.path.join(root, fn)
                            rows.append((p, bucket, os.path.getsize(p)))
        listing_schema = "path string, bucket int, n_bytes long"
        out_schema = (
            listing_schema + ", n_rows long, n_row_groups int"
        )
        if not rows:
            return self.spark.createDataFrame([], out_schema)
        listing = self.spark.createDataFrame(rows, listing_schema)

        def read_footers(batches):
            import pyarrow.parquet as pq

            for pdf in batches:
                metas = [pq.ParquetFile(p).metadata for p in pdf["path"]]
                pdf = pdf.copy()
                pdf["n_rows"] = [m.num_rows for m in metas]
                pdf["n_row_groups"] = [m.num_row_groups for m in metas]
                yield pdf

        return listing.repartition(
            min(len(rows), 32)
        ).mapInPandas(read_footers, schema=out_schema)

    def list_ids(self, limit: int = 100, offset: int = 0) -> list[str]:
        """D8: paged id listing (deterministic order by id). When the
        serving pack is already warm and version-current its id array
        (sorted ascending) answers a page as a zero-job slice
        (round 7). Like count(), this deliberately reads the CACHE
        rather than pack_serving(): a cold sub-threshold collection
        should not pay a full Arrow collect (up to 80M floats) just to
        return one 100-id page — the distributed offset/limit plan is
        the right cold path."""
        cached = getattr(self, "_serving_pack", None)
        if (
            cached is not None
            and cached[1] is not None
            and cached[0] == self._current_version()
        ):
            return [
                str(i) for i in cached[1]["ids"][offset : offset + limit]
            ]
        rows = (
            self.df().select("id").orderBy("id").offset(offset).limit(limit).collect()
        )
        return [r["id"] for r in rows]

    def peek(self, limit: int = 10) -> DataFrame:
        """D9."""
        return self.df().limit(limit)

    # -- ChromaDB-shaped API (ref fastpyvectordb/client.py:146-274) ---

    def add(
        self,
        ids: Sequence[str],
        documents: Sequence[str] | None = None,
        embeddings: Sequence[Sequence[float]] | None = None,
        metadatas: Sequence[dict] | None = None,
    ) -> list[str]:
        """ChromaDB-style ingestion (ref client.py:146-159): embeds
        ``documents`` with the deterministic mock embedder when explicit
        ``embeddings`` are absent, and stashes the document text in a
        ``_document`` column (the reference keeps it in metadata under
        the same key)."""
        if embeddings is None:
            if documents is None:
                raise ValueError("add() needs documents or embeddings")
            import pandas as pd

            from fastpyvectordb_spark.embeddings import mock_embed_batch

            embeddings = [
                [float(x) for x in v]
                for v in mock_embed_batch(
                    pd.Series(list(documents)), self.config.dimensions
                )
            ]
        rows = []
        meta_keys: list[str] = []
        for m in metadatas or []:
            for k in m:
                if k not in meta_keys:
                    meta_keys.append(k)
        for i, id_ in enumerate(ids):
            row = {"id": str(id_), "embedding": list(embeddings[i])}
            if documents is not None:
                row["_document"] = documents[i]
            meta = (metadatas or [{}] * len(ids))[i] if metadatas else {}
            for k in meta_keys:
                row[k] = meta.get(k)
            rows.append(row)
        self.insert_batch(self._rows_to_batch(rows))
        return [str(i) for i in ids]

    def query(
        self,
        query_texts: Sequence[str] | None = None,
        query_embeddings: Sequence[Sequence[float]] | None = None,
        n_results: int = 10,
        where: Filter | dict | None = None,
        include: Sequence[str] = ("metadatas", "documents", "distances"),
    ) -> dict:
        """The reference's flagship query path (client.py:212-274,
        SURVEY §3.1) — embed → filter → kNN → assemble lists-of-lists —
        as ONE Spark job for the whole query batch (broadcast queries +
        per-query window top-k), with pre-filter semantics (SURVEY §4:
        WHERE before top-k, strictly better recall than the reference's
        ×10 over-fetch post-filter). Returns the ChromaDB-shaped dict
        ``{ids, distances, metadatas, documents, embeddings}``;
        excluded sections are None. ``_``-prefixed metadata keys are
        stripped (F9) and ``_document`` feeds ``documents``."""
        from fastpyvectordb_spark.operators.knn import knn_join

        if query_embeddings is None:
            if not query_texts:
                raise ValueError("query() needs query_texts or query_embeddings")
            import pandas as pd

            from fastpyvectordb_spark.embeddings import mock_embed_batch

            query_embeddings = [
                [float(x) for x in v]
                for v in mock_embed_batch(
                    pd.Series(list(query_texts)), self.config.dimensions
                )
            ]
        n_q = len(query_embeddings)
        cur = self.df()
        if where is not None:
            f = from_dict(where) if isinstance(where, dict) else where
            cur = cur.filter(F.coalesce(f.col(), F.lit(False)))
        qdf = self.spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(query_embeddings)],
            "query_id long, query_vec array<float>",
        )
        hits = knn_join(
            cur, qdf, k=n_results, metric=self.config.metric,
            id_col="id", vec_col="embedding",
        )
        want_vec = "embeddings" in include
        want_meta = "metadatas" in include
        want_docs = "documents" in include
        side_cols = [c for c in cur.columns if c not in ("id", "embedding")]
        side = cur.select(
            "id", *side_cols, *(["embedding"] if want_vec else [])
        )
        rows = (
            hits.join(side, "id")
            .orderBy("query_id", "rank")
            .collect()
        )
        ids = [[] for _ in range(n_q)]
        dists = [[] for _ in range(n_q)]
        metas = [[] for _ in range(n_q)]
        docs = [[] for _ in range(n_q)]
        vecs = [[] for _ in range(n_q)]
        for r in rows:
            q = r["query_id"]
            ids[q].append(r["id"])
            dists[q].append(r["dist"])
            if want_meta:
                metas[q].append(
                    {
                        k: r[k]
                        for k in side_cols
                        if not k.startswith("_") and r[k] is not None
                    }
                )
            if want_docs:
                docs[q].append(r["_document"] if "_document" in side_cols else None)
            if want_vec:
                vecs[q].append(list(r["embedding"]))
        return {
            "ids": ids,
            "distances": dists if "distances" in include else None,
            "metadatas": metas if want_meta else None,
            "documents": docs if want_docs else None,
            "embeddings": vecs if want_vec else None,
        }

    # -- queries ------------------------------------------------------

    def search(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        where: Filter | dict | None = None,
        ef_search: int | None = None,  # accepted for API parity; exact mode ignores it
    ) -> DataFrame:
        """K1/K3: exact kNN with pre-filter semantics (SURVEY §4)."""
        if len(query_vec) != self.config.dimensions:
            raise ValueError(
                f"query dimension {len(query_vec)} != {self.config.dimensions}"
            )
        pre = None
        if where is not None:
            f = from_dict(where) if isinstance(where, dict) else where
            pre = f.col()
        return knn_op(
            self.df(), query_vec, k=k, metric=self.config.metric,
            pre_filter=pre, id_col="id", vec_col="embedding",
        )

    # floats (n·dims) at/below this pack locally for serving — same
    # driver-memory regime as ann.ivf.LOCAL_PACK_THRESHOLD. Round 7
    # sizes it to the reference's always-in-RAM model for real: 80M
    # floats = a 320 MB f32 matrix (1M × 64-dim rows pack resident,
    # ~1 GB with the Arrow table + aux arrays) — an order of magnitude
    # of headroom on the 128 GiB serving driver, while 100 TB-class
    # collections still route to the distributed probed plans.
    SERVING_PACK_MAX_FLOATS = 80_000_000

    def pack_serving(self):
        """Driver-resident serving pack for single-query search: the
        collection's live rows collected ONCE per committed version
        (Arrow) into a contiguous float32 matrix + precomputed norms +
        an id→row index for metadata enrichment. Re-validated against
        the version pointer on every call — any commit invalidates it.

        Refresh is INCREMENTAL when possible (round 6): the manifest
        layer makes the delta between the cached version and the
        current one explicit — new pool files are read driver-side via
        pyarrow and the current kill set re-applied to cached rows, so
        a point-DML commit refreshes the pack in O(changed rows) with
        ZERO Spark jobs (the serving-tier twin of the O(changed files)
        manifest commits). Any shape the delta can't express — files
        removed (optimize/restore/legacy migration), schema promotion
        failure, vacuumed manifests — falls back to the full rebuild,
        whose result is definitionally identical (pytest pins
        incremental == full).

        Returns None (and caches the refusal for the version) when the
        collection exceeds ``SERVING_PACK_MAX_FLOATS`` — callers then
        stay on the distributed plan. This is the architecture note the
        bench rows document: per-query distributed jobs pay Spark's
        ~0.3 s scheduling floor, so interactive serving routes through
        this twin (the reference's always-in-RAM regime,
        vectordb_optimized.py:271-280) while batch/filtered search
        stays distributed."""
        import numpy as np

        ver = self._current_version()
        cached = getattr(self, "_serving_pack", None)
        if cached is not None and cached[0] == ver:
            return cached[1]
        if ver is None:
            return None
        if cached is not None and cached[1] is not None:
            pack = self._pack_refresh_delta(cached[0], ver, cached[1])
            if pack is not None:
                oversize = (
                    pack["vmat"].size > self.SERVING_PACK_MAX_FLOATS
                )
                self._serving_pack = (ver, None if oversize else pack)
                return self._serving_pack[1]
        n = self.count()
        if n * self.config.dimensions > self.SERVING_PACK_MAX_FLOATS:
            self._serving_pack = (ver, None)
            return None
        tbl = self._df_live(keep_seq=True).toArrow()
        seq = self._pack_pop_seq_col(tbl)
        if seq is None:
            seq = np.zeros(tbl.num_rows, np.int64)
        else:
            tbl = tbl.drop_columns(["_seq"])
        ids = np.asarray(tbl["id"].to_pylist(), dtype=object)
        emb = tbl["embedding"].combine_chunks()
        vmat = (
            np.asarray(emb.flatten(), dtype=np.float32).reshape(len(ids), -1)
            if len(ids)
            else np.zeros((0, self.config.dimensions), dtype=np.float32)
        )
        pack = self._pack_assemble(ids, vmat, seq, tbl)
        self._serving_pack = (ver, pack)
        return pack

    @staticmethod
    def _pack_pop_seq_col(tbl):
        """``_seq`` column of an Arrow table as int64 (nulls → 0), or
        None when absent (pre-DV legacy data)."""
        import numpy as np
        import pyarrow.compute as pc

        if "_seq" not in tbl.column_names:
            return None
        col = pc.fill_null(pc.cast(tbl["_seq"], "int64"), 0)
        return col.combine_chunks().to_numpy(zero_copy_only=False).astype(
            np.int64
        )

    def _pack_assemble(self, ids, vmat, seq, tbl):
        """Order rows id-ascending and precompute the serving-side
        derived arrays (norms + id→row index). Shared by the full and
        incremental refresh paths so both produce identical packs."""
        import numpy as np

        order = np.argsort(ids)  # id-ascending: stable tie resolution
        ids = ids[order]
        vmat = np.ascontiguousarray(vmat[order])
        sqnorms = np.einsum("ij,ij->i", vmat, vmat)
        return {
            "ids": ids,
            "vmat": vmat,
            "sqnorms": sqnorms,
            "norms": np.sqrt(sqnorms).astype(np.float32) + np.float32(1e-10),
            "rows": _RowIndex(ids),
            "seq": seq[order],
            "tbl": tbl.take(order),
        }

    def _pack_refresh_delta(self, old_ver: str, new_ver: str, old):
        """O(changed rows), zero-Spark-job serving-pack refresh.

        The manifest layer resolves both versions to explicit pooled
        file sets; when the new version only ADDS data files (every
        DML verb — insert/upsert/delete — is manifest adds + DV kill
        refs, never a data-file rewrite), the delta is: read the added
        files driver-side, re-apply the CURRENT kill map to old + new
        rows (kills are monotone and idempotent, so re-applying old
        kills to already-filtered rows is a no-op), and re-assemble.
        Returns None — caller falls back to the full Spark rebuild —
        whenever data files were removed (optimize / restore / legacy
        migration rewrites), a manifest is unreadable (vacuumed), or
        the added files' schema cannot be promoted to the pack's."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as papq

        try:
            of, odv = self._resolve(old_ver)
            nf, ndv = self._resolve(new_ver)
            if not of and len(old["ids"]):
                # a vacuumed base version resolves as empty (manifest
                # gone, dir gone) — treating that as "everything was
                # added" would duplicate every cached row
                return None
            ofs = set(of)
            if ofs - set(nf):
                return None
            # kills must be MONOTONE for the delta to be valid: the
            # cached pack already excludes rows killed as of old_ver,
            # and re-applying the current kill map can only remove
            # more. A version that DROPS a DV file (restore to a
            # pre-delete version — data files identical, kills undone)
            # would need killed rows RESURRECTED, which the delta
            # cannot do → full rebuild. (DV compaction also lands here:
            # rare, bounded, correct.)
            if set(odv) - set(ndv):
                return None
            added = [f for f in nf if f not in ofs]
            est = old["vmat"].shape[0] + sum(
                papq.ParquetFile(os.path.join(self.path, f)).metadata.num_rows
                for f in added
            )
            if est * self.config.dimensions > 4 * self.SERVING_PACK_MAX_FLOATS:
                # don't materialize an obviously-oversize delta; the
                # caller's count() guard refuses at the real threshold
                return None
            new_tbls = [
                papq.read_table(os.path.join(self.path, f)) for f in added
            ]
            # current kill map, driver-side (DV files are tiny id lists
            # and the manifest bounds their count via compaction)
            kill: dict = {}
            for f in ndv:
                t = papq.read_table(
                    os.path.join(self.path, f), columns=["id", "kill_seq"]
                )
                for i, s in zip(
                    t["id"].to_pylist(), t["kill_seq"].to_pylist()
                ):
                    prev = kill.get(i)
                    if prev is None or s > prev:
                        kill[i] = s

            def live_mask(ids_arr, seq_arr):
                if not kill or len(ids_arr) == 0:
                    return np.ones(len(ids_arr), dtype=bool)
                import pandas as pd

                # vectorized dict lookup: NaN marks "no kill for id"
                ks = pd.Series(ids_arr).map(kill).to_numpy(dtype=np.float64)
                return np.isnan(ks) | (seq_arr >= ks)

            # old-side kills resolved to POSITIONS via binary search
            # over the (sorted) cached ids — O(kills · log N), not a
            # dict-map pass over every cached row
            n_old = len(old["ids"])
            keep_old = np.ones(n_old, dtype=bool)
            if kill and n_old:
                kid = np.asarray(sorted(kill), dtype=object)
                pos = np.searchsorted(old["ids"], kid)
                inb = pos < n_old
                pc = np.minimum(pos, n_old - 1)
                hit = inb & (old["ids"][pc] == kid)
                ks = np.asarray([kill[i] for i in kid], dtype=np.int64)
                dead = pc[hit & (old["seq"][pc] < ks)]
                keep_old[dead] = False
            # new rows (the CHANGED set — small by construction): per
            # file, flatten + kill-filter, then one id sort
            parts_ids, parts_vmat, parts_seq, parts_tbl = [], [], [], []
            for t in new_tbls:
                if t.num_rows == 0:
                    continue
                seq = self._pack_pop_seq_col(t)
                if seq is None:
                    seq = np.zeros(t.num_rows, np.int64)
                else:
                    t = t.drop_columns(["_seq"])
                ids = np.asarray(t["id"].to_pylist(), dtype=object)
                emb = t["embedding"].combine_chunks()
                vmat = np.asarray(emb.flatten(), dtype=np.float32).reshape(
                    len(ids), -1
                )
                keep = live_mask(ids, seq)
                parts_ids.append(ids[keep])
                parts_vmat.append(vmat[keep])
                parts_seq.append(seq[keep])
                parts_tbl.append(t.filter(pa.array(keep)))
            if parts_ids:
                new_ids = np.concatenate(parts_ids)
                nord = np.argsort(new_ids)
                new_ids = new_ids[nord]
                new_vmat = np.vstack(parts_vmat)[nord]
                new_seq = np.concatenate(parts_seq)[nord]
                new_tbl = pa.concat_tables(
                    parts_tbl, promote_options="permissive"
                ).take(pa.array(nord))
            else:
                new_ids = np.empty(0, dtype=object)
                new_vmat = np.empty(
                    (0, old["vmat"].shape[1]), dtype=np.float32
                )
                new_seq = np.empty(0, dtype=np.int64)
                new_tbl = old["tbl"].slice(0, 0)
            # MERGE (both sides id-sorted): place each new row at its
            # searchsorted slot among the surviving old rows and fill
            # the final arrays with ONE gather per side — no argsort
            # over the unchanged bulk, no eager id→row dict, no
            # re-einsum of unchanged norms. At 1M rows this turned a
            # ~10 s 'incremental' refresh into ~1 s (the remaining
            # cost is the unavoidable O(N) memcopy of the pack).
            surv = np.nonzero(keep_old)[0]
            ins = np.searchsorted(old["ids"][surv], new_ids)
            # the merge assumes new ids are DISJOINT from surviving old
            # ids (insert dup-reject + upsert kill-writing uphold this
            # today). Cheap check: with side='left', a duplicate means
            # the surviving id AT the insert slot equals the new id —
            # fall back to the full rebuild so a future DML path that
            # breaks the invariant degrades safely instead of minting a
            # pack with ambiguous binary-search lookups.
            if len(surv) and len(new_ids):
                hit = ins < len(surv)
                if hit.any() and (
                    old["ids"][surv][ins[hit]] == new_ids[hit]
                ).any():
                    return None
            m = len(surv) + len(new_ids)
            is_new = np.zeros(m, dtype=bool)
            is_new[ins + np.arange(len(new_ids))] = True
            ids_f = np.empty(m, dtype=object)
            ids_f[~is_new] = old["ids"][surv]
            ids_f[is_new] = new_ids
            vmat_f = np.empty((m, old["vmat"].shape[1]), dtype=np.float32)
            vmat_f[~is_new] = old["vmat"][surv]
            vmat_f[is_new] = new_vmat
            seq_f = np.empty(m, dtype=np.int64)
            seq_f[~is_new] = old["seq"][surv]
            seq_f[is_new] = new_seq
            sq_f = np.empty(m, dtype=old["sqnorms"].dtype)
            sq_f[~is_new] = old["sqnorms"][surv]
            sq_f[is_new] = np.einsum("ij,ij->i", new_vmat, new_vmat)
            src = np.empty(m, dtype=np.int64)
            src[~is_new] = surv
            src[is_new] = n_old + np.arange(len(new_ids))
            tbl_f = pa.concat_tables(
                [old["tbl"], new_tbl], promote_options="permissive"
            ).take(pa.array(src))
            return {
                "ids": ids_f,
                "vmat": vmat_f,
                "sqnorms": sq_f,
                "norms": np.sqrt(sq_f).astype(np.float32)
                + np.float32(1e-10),
                "rows": _RowIndex(ids_f),
                "seq": seq_f,
                "tbl": tbl_f,
            }
        except Exception:
            return None

    def search_local(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        pack: dict | None = None,
    ) -> list[tuple[str, float]] | None:
        """Zero-job exact single-query search over :meth:`pack_serving`
        (None when the pack is unavailable — caller falls back to the
        distributed :meth:`search`). Same scoring as the distributed
        operator: metric distance, ROUND 6, ties by id ascending.

        Pass ``pack`` to score against a caller-held snapshot: a
        concurrent commit swaps ``_serving_pack`` under multi-threaded
        servers, so callers that enrich hits afterwards must fetch the
        pack once and hand the SAME object here (server.py does)."""
        import numpy as np

        from fastpyvectordb_spark.operators.knn import matvec

        if len(query_vec) != self.config.dimensions:
            raise ValueError(
                f"query dimension {len(query_vec)} != {self.config.dimensions}"
            )
        if pack is None:
            pack = self.pack_serving()
        if pack is None:
            return None
        vmat = pack["vmat"]
        if vmat.shape[0] == 0:
            return []
        metric = self.config.metric
        eps = 1e-10
        q = np.asarray(list(query_vec), dtype=np.float32)
        if metric == "cosine":
            qn = q / (np.linalg.norm(q) + eps)
            d = 1.0 - matvec(vmat, qn) / pack["norms"]
        elif metric == "l2":
            d = pack["sqnorms"] - 2.0 * matvec(vmat, q) + np.float32(q @ q)
            d = np.sqrt(np.maximum(d, 0.0))
        else:  # ip
            d = -matvec(vmat, q)
        cand = min(max(4 * k, 64), d.shape[0])
        p = np.argpartition(d, cand - 1)[:cand]
        if metric == "l2":
            # recompute candidates in float64: the fp32 dot expansion
            # loses ~1e-3 absolute near zero (cancellation)
            diff = vmat[p].astype(np.float64) - q.astype(np.float64)
            d = d.astype(np.float64)
            d[p] = np.sqrt(np.einsum("ij,ij->i", diff, diff))
        kk = min(k, d.shape[0])
        dr = np.round(d[p].astype(np.float64), 6)
        order = np.lexsort((pack["ids"][p], dr))[:kk]
        sel = p[order]
        return [
            (str(i), float(v)) for i, v in zip(pack["ids"][sel], dr[order])
        ]

    # -- ANN index lifecycle (reference vectordb_optimized.py:271-309:
    # a live per-collection index maintained through DML and persisted
    # across restarts; see ann/collection_index.py for the design) ----

    def _ann(self):
        from fastpyvectordb_spark.ann.collection_index import CollectionANN

        # dict.setdefault is atomic under the GIL — two ThreadingHTTPServer
        # handlers racing first use share ONE CollectionANN (its refresh
        # lock only serializes threads that see the same instance)
        st = getattr(self, "_ann_state", None)
        if st is None:
            st = self.__dict__.setdefault("_ann_state", CollectionANN(self))
        return st

    def build_ann_index(
        self,
        n_lists: int | None = None,
        max_iter: int = 20,
        seed: int = 42,
        train_rows: int | None = 200_000,
    ) -> dict:
        """Train (or retrain) the collection's IVF index and persist
        its centroids+meta under ``<path>/_ann/`` keyed to the current
        version (the reference's ``index.bin`` save). Serving state
        re-derives lazily on the next search."""
        return self._ann().train(
            n_lists=n_lists, max_iter=max_iter, seed=seed,
            train_rows=train_rows,
        )

    def drop_ann_index(self) -> None:
        self._ann().drop()

    # the reference's per-request quality knob is HNSW ``ef_search``
    # (server.py:75,373 passes it through to collection.search); the
    # IVF equivalent is nprobe. Linear map anchored at the defaults —
    # config ef_search 50 ≡ nprobe 8 — monotone, so "raise ef_search
    # for better recall" keeps meaning exactly that.
    _NPROBE_PER_EF = 8 / 50
    _EF_ANCHOR = 50

    @classmethod
    def nprobe_from_ef(cls, ef_search: int, n_lists: int | None = None) -> int:
        """ef_search → probe width. With ``n_lists`` the anchor scales:
        ef 50 ≡ :func:`ann.ivf.auto_nprobe` lists (⌊√n_lists⌋//2,
        floor 8 — identical to the fixed ``8`` at ≤324 lists, i.e.
        every corpus up to ~100k rows under √N auto-sizing; 28 at the
        10M point). The growth is coverage insurance at sublinear
        cost — the 10M decomposition measured coverage 1.0 already at
        8 probes on clusterable data, so the width stays modest rather
        than holding a (linear-cost) scan fraction. Without
        ``n_lists`` (n/a or unknown) the fixed anchor applies."""
        if n_lists is None:
            return max(1, round(ef_search * cls._NPROBE_PER_EF))
        from fastpyvectordb_spark.ann.ivf import auto_nprobe

        return max(
            1, round(ef_search / cls._EF_ANCHOR * auto_nprobe(n_lists))
        )

    def search_ann(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int | None = None,
        auto_build: bool = True,
        ef_search: int | None = None,
    ) -> list[tuple[str, float]] | None:
        """ANN single-query search through the collection's IVF index
        (trained on first use; assignments track every commit via the
        incremental serving pack). Returns ``[(id, dist), ...]`` like
        :meth:`search_local`. Collections ABOVE the serving-pack size
        threshold serve through the index too — the same centroids as
        a compute-pruned distributed probed scan
        (:meth:`CollectionANN.search_distributed`), so ``ann=True``
        keeps meaning "probed" at any scale. Returns None only when
        there is no data, or no index and ``auto_build=False``.
        ``ef_search`` (the reference's per-request quality override,
        server.py:75) takes precedence over ``nprobe`` via
        :meth:`nprobe_from_ef`; with neither given, the default is the
        collection's CONFIGURED ef_search (reference
        vectordb_optimized.py:191-200 — config ef_search governs
        searches unless overridden per request)."""
        # explicit nprobe wins; any ef (request or config default)
        # resolves AFTER ensure(), when the trained list count is known
        # and the anchor can scale with it (see nprobe_from_ef)
        eff_ef = ef_search if ef_search is not None else (
            self.config.ef_search if nprobe is None else None
        )
        if len(query_vec) != self.config.dimensions:
            raise ValueError(
                f"query dimension {len(query_vec)} != {self.config.dimensions}"
            )
        st = self._ann()
        serving = st.ensure(auto_build=auto_build)
        if eff_ef is not None:
            nprobe = self.nprobe_from_ef(
                eff_ef,
                n_lists=(
                    st.centroids.shape[0]
                    if st.centroids is not None else None
                ),
            )
        if serving is None:
            if st.centroids is None or self._current_version() is None:
                return None
            res = st.search_distributed([query_vec], k=k, nprobe=nprobe)
            # None = the index was dropped concurrently → clean miss
            return res[0] if res is not None else None
        return st.search_one(query_vec, k=k, nprobe=nprobe, serving=serving)

    def search_ann_batch(
        self,
        query_vecs: Sequence[Sequence[float]],
        k: int = 10,
        nprobe: int | None = None,
        auto_build: bool = True,
        ef_search: int | None = None,
    ):
        """Batch ANN search: pandas ``(query_id, rank, id, dist)`` with
        query_id = input position. Oversize collections serve through
        the distributed probed fallback (one bounded k-row job per
        query — the amortized batch shape at that scale is
        :func:`ann.ivf.ivf_search_batch` over a saved list-partitioned
        index). Returns None only when there is no data, or no index
        and ``auto_build=False``. ``ef_search`` overrides ``nprobe``
        as in :meth:`search_ann`; the default is the configured
        ef_search mapping."""
        import pandas as pd

        # same deferred ef→nprobe resolution as search_ann: the anchor
        # scales with the trained list count once ensure() ran
        eff_ef = ef_search if ef_search is not None else (
            self.config.ef_search if nprobe is None else None
        )
        for v in query_vecs:
            if len(v) != self.config.dimensions:
                raise ValueError(
                    f"query dimension {len(v)} != {self.config.dimensions}"
                )
        st = self._ann()
        serving = st.ensure(auto_build=auto_build)
        if eff_ef is not None:
            nprobe = self.nprobe_from_ef(
                eff_ef,
                n_lists=(
                    st.centroids.shape[0]
                    if st.centroids is not None else None
                ),
            )
        if serving is None:
            if st.centroids is None or self._current_version() is None:
                return None
            # ONE job for the whole batch (scan once, broadcast the
            # queries, window-rank per query) — not Q sequential scans
            return st.search_distributed_batch(
                query_vecs, k=k, nprobe=nprobe
            )
        qpdf = pd.DataFrame(
            {
                "query_id": range(len(query_vecs)),
                "query_vec": [list(v) for v in query_vecs],
            }
        )
        return st.search_batch(qpdf, k=k, nprobe=nprobe, serving=serving)

    def search_batch(
        self,
        query_vecs: Sequence[Sequence[float]],
        k: int = 10,
        where: Filter | dict | None = None,
    ) -> DataFrame:
        """K2: batch search as ONE job (ref ``search_batch``,
        vectordb_optimized.py:577-644 — its native multi-query call is
        Spark's broadcast-queries + per-query window). Returns
        (query_id, rank, id, dist); query_id is the input position."""
        from fastpyvectordb_spark.operators.knn import knn_join

        for v in query_vecs:
            if len(v) != self.config.dimensions:
                raise ValueError(
                    f"query dimension {len(v)} != {self.config.dimensions}"
                )
        base = self.df()
        if where is not None:
            f = from_dict(where) if isinstance(where, dict) else where
            base = base.filter(f.col())
        qdf = self.spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(query_vecs)],
            "query_id long, query_vec array<double>",
        )
        return knn_join(
            base, qdf, k=k, metric=self.config.metric,
            id_col="id", vec_col="embedding",
        )


class VectorDB:
    """Database = named directory of collections (S3,
    ``vectordb_optimized.py:746-818``)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # Collection handles are cached per (name, config mtime): the
        # handle carries warm per-version state (schema cache, serving
        # pack), and constructing a fresh one per call — the REST
        # server's request pattern — would rebuild that state on every
        # request. Data staleness is impossible (handles re-read the
        # version pointer per operation); a delete+recreate writes a
        # new config.json, whose mtime_ns misses the cache.
        self._handles: dict[str, tuple[int, Collection]] = {}
        os.makedirs(path, exist_ok=True)

    def _cpath(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"bad collection name {name!r}")
        return os.path.join(self.path, name)

    def create_collection(
        self,
        name: str,
        dimensions: int,
        metric: str = "cosine",
        m: int = 16,
        ef_construction: int = 200,
        ef_search: int = 50,
    ) -> Collection:
        p = self._cpath(name)
        if os.path.exists(os.path.join(p, "config.json")):
            raise ValueError(f"collection {name!r} already exists")
        return Collection(
            self.spark,
            p,
            CollectionConfig(dimensions, metric, m, ef_construction, ef_search),
        )

    def get_collection(self, name: str) -> Collection:
        p = self._cpath(name)
        cfg = os.path.join(p, "config.json")
        try:
            mtime = os.stat(cfg).st_mtime_ns
        except FileNotFoundError:
            self._handles.pop(name, None)
            raise KeyError(f"no such collection {name!r}") from None
        cached = self._handles.get(name)
        if cached is not None and cached[0] == mtime:
            return cached[1]
        with open(cfg) as f:
            col = Collection(self.spark, p, CollectionConfig.from_json(f.read()))
        self._handles[name] = (mtime, col)
        return col

    def get_or_create_collection(
        self, name: str, dimensions: int, metric: str = "cosine"
    ) -> Collection:
        try:
            return self.get_collection(name)
        except KeyError:
            return self.create_collection(name, dimensions, metric)

    def list_collections(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.path)
            if os.path.exists(os.path.join(self.path, d, "config.json"))
        )

    def delete_collection(self, name: str) -> None:
        import shutil

        self._handles.pop(name, None)
        p = self._cpath(name)
        if os.path.exists(p):
            shutil.rmtree(p)
