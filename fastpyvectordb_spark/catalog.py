"""Collection catalog — the reference's ``VectorDB``/``Collection``
surface (``vectordb_optimized.py:185-818``) over parquet tables.

A database is a directory; each collection is a subdirectory holding a
parquet table ``(id STRING, embedding ARRAY<FLOAT>, …metadata cols)``
plus ``config.json`` (dimensions/metric — the schema contract the
reference persists at ``vectordb_optimized.py:322-331``).

DML strategy: parquet has no MERGE, so upsert/delete write deletion
vectors plus appended rows, and optimize rewrites — the same logical
plans a Delta MERGE/DELETE executes. A mutation becomes visible in one
step: the exclusive create of the next ``_log/<seq>.json`` entry
(Delta's transaction log), so readers never see partial state and two
writers can never both land the same commit.

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
import shutil
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastpyvectordb_spark.filters import Filter, from_dict

_LOG = "_log"  # commit log: entry <seq:020d>.json names each version
_FILES = "_files"  # shared immutable data-file pool (manifest layout)
_CHECKPOINT_EVERY = 16  # delta-chain depth before a full checkpoint
_DV_COMPACT_AT = 64  # fold deletion vectors into one file past this

class CommitConflictError(RuntimeError):
    """Another writer committed between this op's snapshot read and
    its log entry (optimistic concurrency). Re-read and retry."""


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

# A version's CDC event files wait here until its commit is logged; the
# commit tail (or a later roll-forward) then publishes them.
_EVENTS_STAGED = "_events_staged"


def _write_kills(dv_dir: str, ids, seq: int, prefix: str = "") -> str:
    """Write one deletion-vector file into ``dv_dir``: an ``(id,
    kill_seq)`` row per id, all killed at ``seq``. Returns its path. A
    plain function, so executor-side closures call it too."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    ids = [str(i) for i in ids]
    os.makedirs(dv_dir, exist_ok=True)
    path = os.path.join(
        dv_dir, f"{prefix}kills_{seq}_{uuid.uuid4().hex[:8]}.parquet"
    )
    papq.write_table(
        pa.table(
            {
                "id": pa.array(ids, pa.string()),
                "kill_seq": pa.array([seq] * len(ids), pa.int64()),
            }
        ),
        path,
    )
    return path


def _write_events(ev_dir: str, ids, event_type: str, collection: str) -> None:
    """Write one CDC event file (the ``_events`` feed schema) for
    ``ids`` into ``ev_dir``, a version's staging dir. Executor-side
    closures call it too; :meth:`Collection._emit` is the Spark twin
    for batches too large to collect."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as papq

    ids = [str(i) for i in ids]
    n = len(ids)
    tok = uuid.uuid4().hex[:8]
    os.makedirs(ev_dir, exist_ok=True)
    papq.write_table(
        pa.table(
            {
                "event_id": pa.array([f"{tok}-{i}" for i in ids], pa.string()),
                "event_type": pa.array([event_type] * n, pa.string()),
                "collection": pa.array([collection] * n, pa.string()),
                "doc_id": pa.array(ids, pa.string()),
                "ts": pa.array(
                    [datetime.now(timezone.utc)] * n,
                    pa.timestamp("us", tz="UTC"),
                ),
            }
        ),
        os.path.join(ev_dir, f"ev_{tok}.parquet"),
    )


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


def pack_rows(pack, ids, include_vector: bool = True) -> list[dict]:
    """Row dicts of ``ids`` (input order, missing ids skipped) sliced
    from a serving pack's resident Arrow table (see
    :meth:`Collection.pack_serving`)."""
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
        # version → merged read schema. mergeSchema=true opens every
        # file footer on the driver at plan time; a snapshot's merged
        # schema never changes after commit, so pay that once per
        # version (and prime it at commit time, where the writer already
        # knows the schema) — sequential DML then never lists footers.
        self._schema_cache: dict[str, object] = {}
        # version name → resolved (data_files, dv_files). Versions are
        # immutable after commit (vacuum invalidates), so folding a
        # manifest delta chain happens once per version per handle.
        self._mf_cache: dict[str, tuple[list[str], list[str]]] = {}
        # log entries are immutable: each is parsed once per handle
        self._entries: dict[int, dict] = {}
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
        self._tail = self._scan_tail()
        self._migrate()
        self._roll_forward()

    # -- the commit log -----------------------------------------------
    #
    # ``_log/<seq:020d>.json`` holds one immutable ``{version, op, ts}``
    # entry per commit, seq 1, 2, … with no gaps. The newest entry names
    # the current version; a commit is the put-if-absent of entry
    # base_seq + 1 (:meth:`_put_entry`), so the seq is also the commit
    # id and the ``_seq`` / ``kill_seq`` stamp of the commit's rows and
    # kills.

    def _log_path(self, seq: int) -> str:
        return os.path.join(self.path, _LOG, f"{seq:020d}.json")

    def _read_entry(self, seq: int) -> dict:
        e = self._entries.get(seq)
        if e is None:
            with open(self._log_path(seq)) as f:
                e = json.load(f)
            self._entries[seq] = e
        return e

    def _scan_tail(self) -> tuple[int, str | None]:
        """Newest entry by one listing of ``_log/`` (a fresh handle)."""
        try:
            names = os.listdir(os.path.join(self.path, _LOG))
        except FileNotFoundError:
            return 0, None
        seqs = [
            int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
        ]
        if not seqs:
            return 0, None
        seq = max(seqs)
        return seq, self._read_entry(seq)["version"]

    def _log_tail(self) -> tuple[int, str | None]:
        """``(seq, version)`` of the newest commit, ``(0, None)`` for an
        empty collection: the cached tail advanced while the next entry
        exists — one failing ``stat`` when nothing was committed since.
        The cache is only where the walk starts, and any logged entry is
        a valid start, so threads of one handle need no lock for it."""
        seq, version = self._tail
        while os.path.exists(self._log_path(seq + 1)):
            seq += 1
            version = self._read_entry(seq)["version"]
        self._tail = (seq, version)
        return seq, version

    def _put_entry(self, seq: int, entry: dict) -> bool:
        """Put-if-absent of log entry ``seq``: write a temp file, then
        hard-link it to the entry's name, which fails if that name
        exists. False when another commit already holds ``seq``."""
        d = os.path.join(self.path, _LOG)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{uuid.uuid4().hex[:12]}.tmp")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        try:
            os.link(tmp, self._log_path(seq))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        self._entries[seq] = entry
        self._tail = (seq, entry["version"])
        return True

    def _current_version(self) -> str | None:
        return self._log_tail()[1]

    def _has_rows(self, version: str | None) -> bool:
        """Whether ``version`` names a snapshot with any data file."""
        return version is not None and bool(self._resolve(version)[0])

    def _migrate(self) -> None:
        """One-time conversion of a collection written before the log
        (a ``_current`` pointer file, a ``_versions`` history file,
        version dirs without a manifest). Idempotent, and every step is
        crash-safe, so a reopen redoes whatever a crash left undone:

        1. log entries 1..n from the ``_versions`` lines, plus one
           ``roll_forward`` entry when the pointer names an unlogged
           version (a crash between the old flip and its log line);
        2. a checkpoint manifest over pooled files for each logged
           version dir that has none — bucketed files are hard-linked
           into the pool, a pre-bucketing snapshot is rewritten into it
           by one Spark job — so time travel to every old version works;
        3. the legacy files are unlinked, last."""
        import time

        pointer = os.path.join(self.path, "_current")
        lines = os.path.join(self.path, "_versions")
        legacy = [pointer, lines, os.path.join(self.path, "_commit.lock")]
        if not any(os.path.exists(p) for p in legacy):
            return
        hist: list[dict] = []
        if os.path.exists(lines):
            with open(lines) as f:
                hist = [json.loads(ln) for ln in f if ln.strip()]
        cur = None
        if os.path.exists(pointer):
            with open(pointer) as f:
                cur = f.read().strip() or None
        if cur is not None and (not hist or hist[-1]["version"] != cur):
            hist.append({"version": cur, "op": "roll_forward", "ts": time.time()})
        for seq, entry in enumerate(hist, 1):
            self._put_entry(seq, entry)
        for v in dict.fromkeys(h["version"] for h in hist):
            if os.path.isdir(os.path.join(self.path, v)) and not os.path.exists(
                self._manifest_file(v)
            ):
                self._checkpoint_legacy(v)
        for p in legacy:
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass

    def _checkpoint_legacy(self, version: str) -> None:
        """Migration step 2 for one pre-manifest version dir. Pool names
        carry the ``{version}-`` prefix, so vacuum's GC owns them, and
        hard links keep their names on a rerun."""
        vdir = os.path.join(self.path, version)
        dv = self._pool_move(os.path.join(vdir, "_dv"), "_dv", version, link=True)
        subs = sorted(e for e in os.listdir(vdir) if e.startswith("_bucket="))
        src = vdir
        if not subs and any(f.endswith(".parquet") for f in os.listdir(vdir)):
            # pre-bucketing snapshot: rewrite it with its _bucket column
            # (a failure leaves the legacy dir untouched, unlike _abort)
            src = self._stage_dir(version)
            df = self.spark.read.option("mergeSchema", "true").parquet(vdir)
            df.withColumn("_bucket", self._bucket()).repartition(
                self.config.n_buckets, "_bucket"
            ).write.options(**_BLOOM_OPTS).mode("overwrite").partitionBy(
                "_bucket"
            ).parquet(src)
            subs = sorted(e for e in os.listdir(src) if e.startswith("_bucket="))
        files = [
            f
            for sub in subs
            for f in self._pool_move(
                os.path.join(src, sub), sub, version, link=src == vdir
            )
        ]
        self._put_manifest(
            version, {"kind": "checkpoint", "depth": 0, "files": files, "dv": dv}
        )
        if src != vdir:
            shutil.rmtree(src, ignore_errors=True)

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
        try:
            with open(self._manifest_file(version)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _put_manifest(self, version: str, m: dict) -> None:
        """Write ``<version>/manifest.json`` atomically (tmp + rename)."""
        vdir = os.path.join(self.path, version)
        os.makedirs(vdir, exist_ok=True)
        tmp = os.path.join(vdir, f".manifest.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.rename(tmp, self._manifest_file(version))

    def _resolve(self, version: str) -> tuple[list[str], list[str]]:
        """``(data_files, dv_files)`` of a version as collection-path-
        relative paths, folding the manifest delta chain from the
        nearest checkpoint. Raises ``FileNotFoundError`` for a version
        without a manifest (vacuumed)."""
        cached = self._mf_cache.get(version)
        if cached is not None:
            return cached
        m = self._load_manifest(version)
        if m is None:
            raise FileNotFoundError(f"no manifest for version {version}")
        if m["kind"] == "checkpoint":
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

    def _pool_dir(self, sub: str) -> str:
        """Pool subdir ``sub`` (``_bucket=N`` or ``_dv``), created on
        demand. Pool files are invisible until a committed manifest
        references them, so a crash after writing one leaves only an
        orphan for vacuum."""
        d = os.path.join(self._pool_root(), sub)
        os.makedirs(d, exist_ok=True)
        return d

    def _pool_move(
        self, src: str, sub: str, version: str, link: bool = False
    ) -> list[str]:
        """Rename (or, with ``link``, hard-link: the migration keeps the
        legacy dir readable) ``src``'s parquet files into pool dir
        ``sub`` under ``{version}-``-prefixed names (same-filesystem
        calls, O(new files)); return their collection-relative paths.
        A link whose name already exists is a rerun's: kept."""
        try:
            names = sorted(os.listdir(src))
        except FileNotFoundError:
            return []
        dstd = self._pool_dir(sub)
        out = []
        for fn in names:
            if fn.endswith(".parquet"):
                dst = os.path.join(dstd, f"{version}-{fn}")
                try:
                    (os.link if link else os.rename)(os.path.join(src, fn), dst)
                except FileExistsError:
                    pass
                out.append(os.path.relpath(dst, self.path))
        return out

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
        name = f"{version}-kills_compacted_{uuid.uuid4().hex[:8]}.parquet"
        dst = os.path.join(self._pool_dir("_dv"), name)
        papq.write_table(merged, dst)
        return [os.path.relpath(dst, self.path)]

    def _write_manifest(
        self,
        version: str,
        base_version: str | None,
        adds: list[str],
        dv_adds: list[str],
    ) -> None:
        """Record the new version: a delta against its base, or a full
        checkpoint every ``_CHECKPOINT_EVERY`` commits / when the DV set
        needs compaction. No commit removes files from its base (a
        rewrite is a checkpoint with ``base_version=None``), so
        ``removes`` is always empty."""
        if base_version is None:
            m = {"kind": "checkpoint", "depth": 0, "files": adds, "dv": dv_adds}
            resolved = (list(adds), list(dv_adds))
        else:
            bf, bdv = self._resolve(base_version)
            files = list(bf) + adds
            dv = list(bdv) + dv_adds
            compact = len(dv) > _DV_COMPACT_AT
            if compact:
                dv = self._compact_dv(dv, version)
            depth = self._load_manifest(base_version)["depth"] + 1
            if depth < _CHECKPOINT_EVERY and not compact:
                m = {
                    "kind": "delta",
                    "base": base_version,
                    "depth": depth,
                    "adds": adds,
                    "removes": [],
                    "dv_adds": dv_adds,
                    "dv_removes": [],
                }
            else:
                m = {"kind": "checkpoint", "depth": 0, "files": files, "dv": dv}
            resolved = (files, dv)
        self._put_manifest(version, m)
        self._mf_cache[version] = resolved

    def df(self, version: str | None = None) -> DataFrame:
        """The collection as a DataFrame (S1). ``version`` time-travels
        to any committed snapshot (Delta ``VERSION AS OF``; every
        version keeps its manifest and pooled files until vacuumed)."""
        return self._df_live(version)

    def _empty_df(self) -> DataFrame:
        return self.spark.createDataFrame([], "id string, embedding array<float>")

    def _df_live(
        self, version: str | None = None, keep_seq: bool = False
    ) -> DataFrame:
        if version is None:
            version = self._current_version()
        # no committed data — or a snapshot with no data file (an
        # optimize of an all-deleted collection writes none, and the
        # read can't infer a schema). A vacuumed version raises here.
        if not self._has_rows(version):
            return self._empty_df()
        # mergeSchema: delta commits can leave per-bucket schema drift
        # (a new metadata column exists only in rewritten buckets);
        # missing columns read as NULL — exactly the F7 contract.
        # _ann_list is the optimize(ann_cluster) stats column — internal
        # like _seq, never user-visible
        return self._apply_dv(
            self._read_snapshot(version), version, keep_seq=keep_seq
        ).drop("_bucket", "_ann_list")

    def _df_live_files(
        self, files: list[str], version: str
    ) -> DataFrame:
        """Live rows of ``version`` read from an EXPLICIT file subset —
        the ANN fallback's file-skipping scan (footer stats prune the
        list first; kills still apply globally, and ``_ann_list`` stays
        readable for the pushed probe filter)."""
        return self._apply_dv(
            self._read_snapshot(version, files), version
        ).drop("_bucket")

    def _read_snapshot(
        self, version: str, files: list[str] | None = None
    ) -> DataFrame:
        """Scan a version's resolved file list (or the subset ``files``)
        with its merged schema. ``basePath`` points at the pool root, so
        ``_bucket`` stays a partition column and bucket-pruned reads
        plan against the manifest's file set — no filesystem listing.
        The schema comes from the per-version cache when possible (an
        explicit ``.schema(...)`` read skips the driver-side footer
        sweep that ``mergeSchema=true`` does on every call; files
        missing a cached column read it as NULL, same as mergeSchema)."""
        whole = files is None
        if whole:
            files = self._resolve(version)[0]
        paths = [os.path.join(self.path, f) for f in files]
        rd = self.spark.read.option("basePath", self._pool_root())
        cached = self._schema_cache.get(version)
        if cached is not None:
            return rd.schema(cached).parquet(*paths)
        df = rd.option("mergeSchema", "true").parquet(*paths)
        if whole:
            self._schema_cache[version] = df.schema
        return df

    def _prime_schema(
        self, version: str, written: DataFrame, base: str | None
    ) -> None:
        """Record a just-committed version's merged schema: columns of
        the written delta plus any columns that exist only in the
        carried-over files of the base snapshot. On any type conflict,
        leave uncached — the first read falls back to mergeSchema."""
        from pyspark.sql.types import IntegerType, StructField, StructType

        fields = {f.name: f for f in written.schema.fields}
        if "_bucket" not in fields:
            fields["_bucket"] = StructField("_bucket", IntegerType())
        if base:
            base_schema = self._schema_cache.get(base)
            if base_schema is None:
                return  # base merged schema unknown: don't guess
            for f in base_schema.fields:
                prev = fields.get(f.name)
                if prev is None:
                    fields[f.name] = f
                elif prev.dataType != f.dataType:
                    return
        self._schema_cache[version] = StructType(list(fields.values()))

    # -- deletion vectors (Delta DV / Hudi MOR mechanics) -------------
    #
    # Point DML throughput is bounded by copy-on-write: a 1k-row upsert
    # into hash-spread ids touches every bucket and rewrites the whole
    # table. Deletion vectors break that bound: a kill record
    # (id, kill_seq) suppresses every row of that id written by a
    # commit OLDER than kill_seq; upsert = kill + append, delete =
    # kill only. Rows carry a ``_seq`` commit stamp; the read side
    # keeps a row iff no kill exists or row._seq >= kill_seq. DV files
    # live in the pool's ``_dv`` dir, carried forward from version to
    # version as manifest references, and vanish on any full rewrite
    # (optimize), which is the compaction that folds them in. A kill's
    # seq is its commit's log seq, so it orders against every ``_seq``.

    def _apply_dv(
        self, df: DataFrame, version: str, keep_seq: bool = False
    ) -> DataFrame:
        """Suppress killed rows: keep a row iff it has no kill entry or
        was (re)written at/after the kill. The DV side is tiny relative
        to the table — broadcast join, never a shuffle of the data.
        ``keep_seq`` retains the ``_seq`` commit stamp (internal
        consumers — the serving pack needs it to apply later kills
        incrementally)."""
        dv_paths = [os.path.join(self.path, f) for f in self._resolve(version)[1]]
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

    # -- the commit protocol ------------------------------------------
    #
    # Every commit reads the log tail ONCE: its base version and its seq
    # (base_seq + 1) come from that one read. Every commit then ends in
    # one tail, :meth:`_commit_tail`:
    #   1. gate     optional pre-publish check of the staged bytes;
    #   2. pool     staged data files and kill files move into ``_files``;
    #   3. manifest ``<version>/manifest.json`` (tmp + rename);
    #   4. schema   prime or carry the version's merged read schema;
    #   5. log      put-if-absent of ``_log/<base_seq + 1>.json``
    #               (:meth:`_finish_commit`); a taken name is the
    #               optimistic-concurrency conflict;
    #   6. publish  staged CDC events move into ``_events``.
    # Verbs differ only in what they stage first: Spark writes into
    # ``_stage/<version>``, driver-side pyarrow files straight into the
    # pool, kill and event files into ``<version>/_dv`` and
    # ``<version>/_events_staged``. Before step 5 nothing is visible: an
    # abort (:meth:`_abort`) drops the stage and version dirs, and a
    # crash leaves orphans no reader sees. From step 5 on the version is
    # committed, and a crash before step 6 finishes is rolled forward by
    # the next open (:meth:`_roll_forward`).

    def _new_version(self) -> tuple[str, str]:
        """A fresh version name and its (not yet created) dir."""
        version = f"v_{uuid.uuid4().hex[:12]}"
        return version, os.path.join(self.path, version)

    def _abort(self, version: str) -> None:
        """Drop an uncommitted version: its stage dir and version dir."""
        shutil.rmtree(self._stage_dir(version), ignore_errors=True)
        shutil.rmtree(os.path.join(self.path, version), ignore_errors=True)

    def _write_stage(self, out: DataFrame, version: str) -> str:
        """Write ``out`` (with its ``_bucket`` column) into the version's
        stage dir: the commit's one Spark write job. A failed write
        aborts the version; validation errors raised inside the write
        tasks (:meth:`_wrap_side_effects`) surface as ``ValueError``."""
        import re

        stage = self._stage_dir(version)
        try:
            out.write.options(**_BLOOM_OPTS).mode("overwrite").partitionBy(
                "_bucket"
            ).parquet(stage)
        except Exception as ex:
            self._abort(version)
            m = re.search(
                r"(dimension mismatch|null id in batch"
                r"|duplicate id in upsert batch)[^\"\n]*",
                str(ex),
            )
            if m:
                raise ValueError(m.group(0)) from ex
            raise
        return stage

    def _commit_tail(
        self,
        version: str,
        op: str,
        tail: tuple[int, str | None],
        *,
        stage: str | None = None,
        adds: Sequence[str] = (),
        dv_adds: Sequence[str] = (),
        written: DataFrame | None = None,
        rewrite: bool = False,
        gate=None,
    ) -> None:
        """Commit ``version`` on top of the log ``tail`` it was built
        from (steps 1-6 above).

        ``stage`` is the version's Spark stage dir; ``adds``/``dv_adds``
        are files the caller already wrote into the pool. ``written`` is
        the DataFrame whose schema the new files carry (None: the schema
        is the base's). ``rewrite`` marks a full snapshot rewrite: the
        manifest is a fresh checkpoint, though ``tail`` still guards the
        log entry. ``gate(stage, vdir)`` may raise to abort before
        anything is pooled or logged."""
        base = tail[1]
        vdir = os.path.join(self.path, version)
        if gate is not None:
            try:
                gate(stage, vdir)
            except Exception:
                self._abort(version)
                raise
        adds = list(adds)
        if stage is not None:
            for entry in sorted(os.listdir(stage)):
                if entry.startswith("_bucket="):
                    adds += self._pool_move(
                        os.path.join(stage, entry), entry, version
                    )
            shutil.rmtree(stage, ignore_errors=True)
        dv_src = os.path.join(vdir, "_dv")
        moved = self._pool_move(dv_src, "_dv", version)
        if moved:
            shutil.rmtree(dv_src, ignore_errors=True)
        dv_adds = list(dv_adds) + moved
        self._write_manifest(version, None if rewrite else base, adds, dv_adds)
        if written is not None:
            self._prime_schema(version, written, base=None if rewrite else base)
        elif base in self._schema_cache:
            self._schema_cache[version] = self._schema_cache[base]
        self._finish_commit(version, op, tail, pooled=adds + dv_adds)
        self._publish_staged_events(vdir)

    def _finish_commit(
        self,
        version: str,
        op: str,
        tail: tuple[int, str | None] | None,
        pooled: list[str] | None = None,
    ) -> None:
        """Make ``version`` current: put-if-absent of log entry
        ``tail``'s seq + 1 — the only write that publishes a commit
        (step 5 of :meth:`_commit_tail`; :meth:`restore` too).

        ``tail`` is the ``(seq, version)`` the commit was BUILT against
        (optimistic concurrency, Delta-style). If another writer took
        that seq first, this commit's manifest and kill files describe
        a stale base: the orphaned version is aborted, its pooled files
        unlinked, and :class:`CommitConflictError` raised so the caller
        can re-read and retry. Conflict detection is coarse (any
        intervening commit conflicts), and nothing is held while the
        data is written. ``tail=None`` (restore) links after whatever
        the newest entry is, retrying when it loses a race."""
        import time

        entry = {"version": version, "op": op, "ts": time.time()}
        if tail is None:
            while not self._put_entry(self._log_tail()[0] + 1, entry):
                pass
            return
        if self._put_entry(tail[0] + 1, entry):
            return
        self._abort(version)
        # this commit's pool files reference a stale base — unlink them
        # so the conflict leaves no orphans
        for rel in pooled or []:
            try:
                os.unlink(os.path.join(self.path, rel))
            except OSError:
                pass
        self._mf_cache.pop(version, None)
        was = tail[1] if tail[1] is not None else "<empty>"
        raise CommitConflictError(
            f"collection advanced from {was} to {self._current_version()} "
            f"while this {op} was building; re-read and retry"
        )

    def _publish_staged_events(self, vdir: str) -> None:
        """Move a committed version's staged CDC event files into the
        live ``_events`` feed (step 6). Same-filesystem renames, each
        atomic, so stream readers only ever see whole files. Two
        processes may publish the same version (a writer and a
        roll-forward): each file moves once, the loser's rename finds
        it gone."""
        staged = os.path.join(vdir, _EVENTS_STAGED)
        try:
            names = os.listdir(staged)
        except FileNotFoundError:
            return
        ev_dir = os.path.join(self.path, "_events")
        os.makedirs(ev_dir, exist_ok=True)
        for fn in names:
            if fn.endswith(".parquet"):
                try:
                    os.rename(
                        os.path.join(staged, fn), os.path.join(ev_dir, fn)
                    )
                except FileNotFoundError:
                    pass
        shutil.rmtree(staged, ignore_errors=True)

    def _roll_forward(self) -> None:
        """Publish the staged CDC events that a crash between a commit's
        log entry and its publish step left behind; runs on open and
        before :meth:`vacuum` drops version dirs. Only version dirs that
        still hold staged events are looked at, and only logged ones
        are published: an unlogged version dir may belong to a live
        writer."""
        staged = [
            v
            for v in sorted(os.listdir(self.path))
            if os.path.isdir(os.path.join(self.path, v, _EVENTS_STAGED))
        ]
        if not staged:
            return
        committed = {h["version"] for h in self.history()}
        for v in staged:
            if v in committed:
                self._publish_staged_events(os.path.join(self.path, v))

    def _commit(
        self,
        df: DataFrame,
        op: str = "commit",
        files_per_bucket: int = 1,
        pre_publish=None,
        tail: tuple[int, str | None] | None = None,
    ) -> None:
        """Full-snapshot commit, partitioned by id-hash bucket so later
        DML can rewrite only touched buckets (Delta's file pruning).
        A full rewrite contains only live rows, so no deletion vectors
        carry over — this is also the DV compaction point.

        ``files_per_bucket`` splits each bucket across that many write
        tasks (deterministic id-hash sub-split) — optimize() sizes it
        so compaction yields ~target_file_bytes files instead of
        n_buckets giant ones; plain DML commits keep the default of one
        task per bucket. ``pre_publish(stage, vdir)`` is the tail's
        gate: it validates the staged bytes and stages CDC events.
        ``tail`` is the log tail ``df`` was built from (default: read
        it now)."""
        tail = tail or self._log_tail()
        version, _ = self._new_version()
        df = df.withColumn("_seq", F.lit(tail[0] + 1).cast("long"))
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
        stage = self._write_stage(d, version)
        self._commit_tail(
            version, op, tail, stage=stage, written=df, rewrite=True,
            gate=pre_publish,
        )

    def _commit_append(
        self,
        batch: DataFrame,
        op: str,
        n_rows: int | None = None,
        kill_event: str | None = None,
        pre_publish=None,
        tail: tuple[int, str | None] | None = None,
    ) -> int | None:
        """Append-only commit (Delta blind APPEND + deletion vectors):
        the manifest records the batch's new files as adds over the base
        version — the current snapshot is never read OR re-listed, so a
        1k-row insert/upsert into a 100 TB table costs O(1k rows) +
        O(new files) metadata. ``kill_event`` (upsert) also kills every
        batch id and stages its CDC events inside the write tasks, and
        the call returns the written row count. Repeated commits
        accumulate small files and DV entries; :meth:`optimize`
        compacts both. ``tail`` is the log tail the caller read the
        snapshot at (default: read it now)."""
        tail = tail or self._log_tail()
        if not self._has_rows(tail[1]):
            # empty collection: a full commit bootstraps it. Large
            # bootstrap batches split each bucket across several
            # write tasks (the wall-time lever for bulk ingest: bucket
            # count alone under-parallelizes a big first load); small
            # ones keep one file per bucket.
            fpb = max(1, min(8, (n_rows or 0) // 50_000))
            self._commit(
                batch, op, files_per_bucket=fpb, pre_publish=pre_publish,
                tail=tail,
            )
            return None
        version, vdir = self._new_version()
        seq = tail[0] + 1
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
            from pyspark.sql import Observation

            # fuse kills + CDC events + dim validation into the
            # write tasks themselves: the whole upsert is ONE job
            out = self._wrap_side_effects(out, vdir, seq, kill_event)
            obs = Observation()
            out = out.observe(obs, F.count(F.lit(1)).alias("n"))
        stage = self._write_stage(out, version)
        n_out = None
        if obs is not None:
            n_out = int(obs.get["n"])
            if n_out == 0:
                # empty upsert batch: nothing was written or killed
                # — don't commit a pointless no-op version (a
                # streaming upsert sink sees empty micro-batches
                # routinely and must not bloat the version chain)
                self._abort(version)
                return 0
        self._commit_tail(
            version, op, tail, stage=stage, written=batch, gate=pre_publish,
        )
        return n_out

    def _commit_kill(
        self, doomed: DataFrame, op: str, tail: tuple[int, str | None]
    ) -> bool:
        """Kill-only commit driven by ONE job: the doomed-id scan's own
        tasks write the deletion-vector and CDC event files directly
        (pyarrow, executor-side). ``doomed`` is read at ``tail``. The
        new version is committed only if some task materialized a kill
        — an empty match writes no version dir and commits nothing.
        Returns whether a commit happened."""
        version, vdir = self._new_version()
        seq = tail[0] + 1
        dv_dir = os.path.join(vdir, "_dv")
        ev_dir = os.path.join(vdir, _EVENTS_STAGED)
        coll = os.path.basename(self.path)

        def per_part(rows) -> None:
            ids = [str(r["id"]) for r in rows]
            if ids:
                _write_kills(dv_dir, ids, seq)
                _write_events(ev_dir, ids, "delete", coll)

        try:
            doomed.select(F.col("id").cast("string").alias("id")).foreachPartition(
                per_part
            )
        except Exception:
            self._abort(version)
            raise
        if not os.path.isdir(dv_dir):
            return False  # nothing matched: no commit
        self._commit_tail(version, op, tail)
        return True

    def _wrap_side_effects(
        self, df: DataFrame, vdir: str, seq: int, event_type: str
    ) -> DataFrame:
        """Pass-through ``mapInPandas`` stage for the commit write: each
        write task validates ids/dimensions, streams its rows to the
        parquet writer unchanged, then side-writes ONE kill file
        (deletion vector) and ONE CDC event file via pyarrow into the
        version dir. Both wait there for the commit tail: kill files
        are pooled only by a commit that goes on to log, and events
        publish only once logged — tasks that finished before a
        failing/conflicting sibling leave no phantom change events."""
        dv_dir = os.path.join(vdir, "_dv")
        ev_dir = os.path.join(vdir, _EVENTS_STAGED)
        coll = os.path.basename(self.path)
        dims = self.config.dimensions

        def run(batches):
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
            if ids:
                _write_kills(dv_dir, ids, seq)
                _write_events(ev_dir, ids, event_type, coll)

        return df.mapInPandas(run, schema=df.schema)

    def _bucket_rows(
        self, touched: list[int], version: str | None = None
    ) -> DataFrame:
        """Rows of the touched buckets only at ``version`` (default:
        current) — the read is pruned to those partitions."""
        if version is None:
            version = self._current_version()
        if not self._has_rows(version):
            return self._empty_df()
        # drop _ann_list: a DML rewrite mixes carried rows with new ones
        # whose list id is unknown — a rewritten file carrying partial
        # stats could be WRONGLY file-skipped by the ANN fallback, so
        # rewritten buckets lose the column (they scan until the next
        # optimize(ann_cluster=True), the standard clustering-erosion
        # contract)
        return self._apply_dv(
            self._read_snapshot(version).filter(
                F.col("_bucket").isin([int(t) for t in touched])
            ),
            version,
        ).drop("_bucket", "_ann_list")

    def _touched_buckets(self, ids_df: DataFrame) -> list[int]:
        return [
            r["b"]
            for r in ids_df.select(
                self._bucket(F.col("id")).alias("b")
            ).distinct().collect()
        ]

    def history(self) -> list[dict]:
        """Commit log, oldest first (Delta ``DESCRIBE HISTORY``): one
        ``{version, op, ts}`` dict per log entry."""
        seq, _ = self._log_tail()
        return [dict(self._read_entry(s)) for s in range(1, seq + 1)]

    def restore(self, version: str) -> None:
        """Point the collection back at an earlier snapshot (Delta
        ``RESTORE``) — a new log entry naming that version's manifest;
        no data moves."""
        if not os.path.exists(self._manifest_file(version)):
            raise ValueError(f"unknown version: {version}")
        self._finish_commit(version, "restore", None)

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
        # one tail read: the rewrite reads and commits on the same base
        tail = self._log_tail()
        if target_partitions is None:
            on_disk = sum(
                os.path.getsize(os.path.join(self.path, rel))
                for rel in (self._resolve(tail[1])[0] if tail[1] else [])
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
            if tail[1] is None or self.count() == 0:
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
            from fastpyvectordb_spark.ann.kmeans import assign_col

            lid = assign_col(F.col("embedding"), st.centroids)
            out = self.df(tail[1]).withColumn("_ann_list", lid.cast("int"))
            out = out.withColumn(
                "_zorder", F.col("_ann_list")
            ).withColumn(
                "_fsplit",
                F.floor(F.col("_ann_list") * fpb / F.lit(n_lists)),
            )
            self._commit(out, op="optimize", files_per_bucket=fpb, tail=tail)
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

            out = self.df(tail[1])
            out = out.withColumn("_zorder", zorder_key(out, zorder_by))
        else:
            out = self.df(tail[1])
        self._commit(out, op="optimize", files_per_bucket=fpb, tail=tail)

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Drop snapshots older than the last ``keep_last`` history
        entries (the newest is the current version) — Delta ``VACUUM``.
        Log entries are never deleted. Returns
        the removed version names; time travel to them is gone.

        Manifest mechanics: every RETAINED manifest version is first
        rewritten as a full checkpoint, so no kept chain folds through
        a dropped version dir. Pool files are then garbage-collected
        when they belong to a dropped version (``{version}-`` filename
        prefix) and no retained manifest references them. Files staged
        by an IN-FLIGHT commit carry a version not yet in history, so
        they are never GC'd from under a concurrent writer; orphans
        from crashed commits (never-committed versions) are likewise
        left alone — bounded by crash count, not commit count. Staged
        CDC events of committed versions are published first
        (:meth:`_roll_forward`), so dropping a version dir never drops
        its events."""
        self._roll_forward()
        hist = self.history()
        keep = {h["version"] for h in hist[-max(keep_last, 1):]}
        # checkpoint kept manifest versions (self-contained chains); a
        # kept entry may name a version an earlier vacuum dropped
        referenced: set[str] = set()
        for v in sorted(keep):
            if not os.path.exists(self._manifest_file(v)):
                continue
            files, dv = self._resolve(v)
            self._put_manifest(
                v, {"kind": "checkpoint", "depth": 0, "files": files, "dv": dv}
            )
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

    def _emit(self, event_type: str, ids_df: DataFrame, to_dir: str) -> None:
        """Spark twin of :func:`_write_events` for id sets too large to
        collect: stage CDC events for ``ids_df`` into a version's
        ``to_dir`` (one Spark job; the commit tail publishes every
        ``*.parquet`` there once the version is logged)."""
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
        ev.write.mode("append").parquet(to_dir)

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

    def _batch_stats(self, batch: DataFrame) -> int:
        """Row count of a batch with its null and dimension checks fused
        into the same pass: ONE job, a narrow partial+final aggregate
        with no shuffle (separate validate / count collects each paid a
        whole Spark-job floor)."""
        dims = self.config.dimensions
        sz = F.size("embedding")
        row = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(
                F.when(sz != dims, F.struct(sz.alias("sz"), F.col("id").alias("id")))
            ).alias("bad"),
            # nulls are invisible to the check above (NULL != dims is
            # NULL) — count them explicitly or they commit and then
            # sort FIRST in every kNN (NULL dist) / break bucketing
            F.sum(F.col("id").isNull().cast("int")).alias("null_ids"),
            F.sum((F.col("id").isNotNull() & sz.isNull()).cast("int")).alias(
                "null_vecs"
            ),
        ).collect()[0]
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
        return int(row["n"])

    def _rows_to_batch(self, rows: list[dict]) -> DataFrame:
        """Row dicts → DataFrame, built from pandas through Arrow: a
        Python list would become a Python RDD, and every job over the
        batch would start Python workers. The schema is explicit: each
        metadata key takes Spark's own inferred type, merged over its
        non-None values (what ``createDataFrame(rows)`` infers), and a
        key that is None in every row — which inference rejects — is a
        string column of NULLs."""
        import pandas as pd
        from pyspark.sql.types import (
            ArrayType,
            FloatType,
            StringType,
            StructField,
            StructType,
            _infer_type,
            _merge_type,
        )

        keys = list(
            dict.fromkeys(
                k for r in rows for k in r if k not in ("id", "embedding")
            )
        )

        def key_type(k):
            t = None
            for r in rows:
                v = r.get(k)
                if v is not None:
                    vt = _infer_type(v)
                    t = vt if t is None else _merge_type(t, vt)
            return t or StringType()

        schema = StructType(
            [
                StructField("id", StringType()),
                StructField("embedding", ArrayType(FloatType())),
                *[StructField(k, key_type(k)) for k in keys],
            ]
        )
        cols = {
            "id": [None if r.get("id") is None else str(r["id"]) for r in rows],
            "embedding": [
                None
                if r.get("embedding") is None
                else [float(x) for x in r["embedding"]]
                for r in rows
            ],
            **{k: [r.get(k) for r in rows] for k in keys},
        }
        # object columns: pandas would turn ints beside a None into NaN
        pdf = pd.DataFrame({k: pd.Series(v, dtype=object) for k, v in cols.items()})
        return self.spark.createDataFrame(pdf, schema)

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
        nondeterministic lineage is checked and recorded exactly as
        written. The batch is never persisted, but its lineage runs
        TWICE: once for the sizing ``count()`` and once for the write
        (an expensive source — an embedding UDF, a remote read — pays
        both; the count only sizes the write tasks, every check uses
        the write's own observed rows). A failed check aborts before
        anything is pooled or pointed at. The r11 shape paid a
        persist + fused stats job (2.49 s at the 100k bench point) + a
        post-commit CDC job (0.99 s) that this removes; CDC events now
        stage in the version dir and publish once the version is logged
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
        tail = self._log_tail()

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
            if self._has_rows(tail[1]):
                if ids is not None:
                    import pandas as pd

                    staged_df = F.broadcast(
                        self.spark.createDataFrame(
                            pd.DataFrame({"id": pd.Series(ids, dtype=object)})
                        )
                    )
                dup = (
                    self._bucket_rows(touched, tail[1])
                    .select("id")
                    .join(staged_df, "id", "inner")
                    .limit(1)
                    .collect()
                )
                if dup:
                    raise ValueError(f"duplicate id {dup[0]['id']!r}")
            # CDC events: staged in the version dir, published once
            # the version is logged, by the commit tail
            ev_dir = os.path.join(vdir, _EVENTS_STAGED)
            et = "batch_insert" if n_out > 1 else "insert"
            if ids is None:
                self._emit(et, self.spark.read.parquet(stage), ev_dir)
            elif ids:
                _write_events(ev_dir, ids, et, os.path.basename(self.path))

        self._commit_append(
            batch, op="insert", n_rows=n, pre_publish=pre_publish, tail=tail
        )
        return out_n[0]

    def upsert(self, batch: DataFrame) -> int:
        """D3: MERGE WHEN MATCHED UPDATE, deletion-vector style: one
        fused stats job sizes/validates the batch, then ONE commit
        records the batch ids as kills and appends the new rows — the
        existing table is never read or rewritten (Delta's DV MERGE
        fast path). An empty collection takes one full commit."""
        batch = self._validate(batch)
        tail = self._log_tail()
        if self._has_rows(tail[1]):
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
                return self._upsert_local(probe, batch, tail)
            # fast path: kill + append + CDC + dim-check + row count all
            # inside the ONE commit-write job (see _wrap_side_effects)
            return self._commit_append(
                batch, op="upsert", kill_event="update", tail=tail
            )
        n = self._batch_stats(batch)
        if n == 0:
            return 0
        self._commit(
            batch, op="upsert", tail=tail,
            pre_publish=lambda stage, vdir: self._emit(
                "update", batch.select("id"), os.path.join(vdir, _EVENTS_STAGED)
            ),
        )
        return n

    def _upsert_local(
        self, tbl, batch: DataFrame, tail: tuple[int, str | None]
    ) -> int:
        """Driver-local small-batch upsert: the batch already sits on
        the driver as an Arrow table (with its ``_bucket`` column), so
        validation, per-bucket data files, the deletion vector, and the
        staged CDC events are all written with pyarrow — zero Spark
        jobs beyond the collect that produced ``tbl``. Same commit
        protocol as :meth:`_commit_append` (manifest delta, DV kill,
        staged events published once logged, optimistic conflict
        check), same error surface (dimension / null-id /
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
        version, vdir = self._new_version()
        seq = tail[0] + 1
        tok = uuid.uuid4().hex[:8]
        # new data and kill files go straight into the pool (invisible
        # until the manifest references them); the base snapshot's files
        # carry forward as manifest references — zero per-file syscalls
        data = tbl.append_column("_seq", pa.array([seq] * n, pa.int64()))
        bvals = data.column("_bucket").to_pylist()
        data = data.remove_column(data.schema.get_field_index("_bucket"))
        by_bucket: dict[int, list[int]] = {}
        for idx, b in enumerate(bvals):
            by_bucket.setdefault(int(b), []).append(idx)
        adds: list[str] = []
        for b, idxs in sorted(by_bucket.items()):
            dst = os.path.join(
                self._pool_dir(f"_bucket={b}"),
                f"{version}-part-local-{tok}.parquet",
            )
            papq.write_table(data.take(pa.array(idxs, pa.int64())), dst)
            adds.append(os.path.relpath(dst, self.path))
        dv = _write_kills(
            os.path.join(self._pool_root(), "_dv"), ids, seq,
            prefix=f"{version}-",
        )
        _write_events(
            os.path.join(vdir, _EVENTS_STAGED), ids, "update",
            os.path.basename(self.path),
        )
        self._commit_tail(
            version, "upsert", tail, adds=adds,
            dv_adds=[os.path.relpath(dv, self.path)], written=batch,
        )
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
        tail = self._log_tail()
        base = tail[1]
        if not self._has_rows(base):
            return  # empty collection: nothing can match (and a where
            # predicate on absent metadata columns could not resolve)
        if not verify_existing and ids and where is None:
            # zero-job O(ids) commit: one pooled kill file, staged CDC
            # events and a manifest delta — no scan, no listing, no
            # per-file metadata
            version, vdir = self._new_version()
            dv = _write_kills(
                os.path.join(self._pool_root(), "_dv"), ids,
                tail[0] + 1, prefix=f"{version}-",
            )
            _write_events(
                os.path.join(vdir, _EVENTS_STAGED), ids, "delete",
                os.path.basename(self.path),
            )
            self._commit_tail(
                version, "delete", tail,
                dv_adds=[os.path.relpath(dv, self.path)],
            )
            return
        cond = None
        if ids is not None:
            cond = F.col("id").isin(list(ids))
        if where is not None:
            f = from_dict(where) if isinstance(where, dict) else where
            cond = f.col() if cond is None else (cond | f.col())
        if cond is None:
            return
        # deletion-vector delete: ONE job — the doomed-id scan's tasks
        # write the kill + CDC event files as they match (existence is
        # checked by what materializes, so no separate probe/collect);
        # the commit itself is a manifest delta and a log entry. Small
        # id lists prune the scan to their hash buckets; hash-spread
        # lists (≥4×n_buckets ids) touch every bucket anyway and skip
        # the pruning job.
        if where is None and ids and len(ids) < self.config.n_buckets * 4:
            ids_df = self.spark.createDataFrame(
                [(str(i),) for i in ids], "id string"
            )
            scope = self._bucket_rows(self._touched_buckets(ids_df), base)
        else:
            scope = self.df(base)
        doomed = scope.filter(F.coalesce(cond, F.lit(False))).select("id")
        self._commit_kill(doomed, op="delete", tail=tail)

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
        return None if pack is None else pack_rows(pack, ids, include_vector)

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
        listing is the resolved manifest plus a stat per file; footers are opened EXECUTOR-side via mapInPandas,
        so a million-file table fans the footer reads out instead of
        funnelling them through the driver."""
        # the inventory IS the resolved manifest (DV refs excluded by
        # construction)
        ver = self._current_version()
        rows = []
        for rel in self._resolve(ver)[0] if ver else []:
            p = os.path.join(self.path, rel)
            rows.append((p, self._bucket_of_path(rel), os.path.getsize(p)))
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
        # imported here, not at module top: executor-side commit tasks
        # import this module for _write_kills/_write_events, and the
        # kNN operator would pull pandas into every plain RDD worker
        from fastpyvectordb_spark.operators.knn import knn as knn_op

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
        the log tail on every call — any commit invalidates it.

        Refresh is INCREMENTAL when possible (round 6): the manifest
        layer makes the delta between the cached version and the
        current one explicit — new pool files are read driver-side via
        pyarrow and the current kill set re-applied to cached rows, so
        a point-DML commit refreshes the pack in O(changed rows) with
        ZERO Spark jobs (the serving-tier twin of the O(changed files)
        manifest commits). Any shape the delta can't express — files
        removed (optimize/restore), schema promotion
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
        whenever data files were removed (optimize / restore
        rewrites), a manifest is unreadable (vacuumed), or
        the added files' schema cannot be promoted to the pack's."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as papq

        try:
            # a vacuumed base version has no manifest: _resolve raises
            of, odv = self._resolve(old_ver)
            nf, ndv = self._resolve(new_ver)
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
        from fastpyvectordb_spark.operators.knn import exact_scan

        if len(query_vec) != self.config.dimensions:
            raise ValueError(
                f"query dimension {len(query_vec)} != {self.config.dimensions}"
            )
        if pack is None:
            pack = self.pack_serving()
        if pack is None:
            return None
        ids, dists = exact_scan(
            pack["vmat"], pack["ids"], pack["norms"], pack["sqnorms"],
            query_vec, k, self.config.metric,
        )
        return [(str(i), float(v)) for i, v in zip(ids, dists)]

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
        # log tail per operation); a delete+recreate writes a
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
        self._handles.pop(name, None)
        p = self._cpath(name)
        if os.path.exists(p):
            shutil.rmtree(p)
