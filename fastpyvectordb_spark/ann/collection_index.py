"""Collection-integrated ANN index lifecycle (reference parity:
``vectordb_optimized.py:271-309`` keeps a live hnswlib index per
collection — ``add_items`` on insert (``:356,405``), ``mark_deleted``
on delete (``:474,492``), ``index.bin``/state persistence
(``:284-309``) — so DML never forces a rebuild and a restart never
forces a retrain).

The Spark-first translation keeps the same contract with IVF (the
serving default, README §Serving) and gets the maintenance almost for
free from two existing pieces:

- **data**: the driver serving pack (``Collection.pack_serving``) is
  already refreshed incrementally per commit — O(changed rows), zero
  Spark jobs — and already excludes killed rows, which IS the
  ``mark_deleted`` semantics.
- **assignment**: IVF list membership is per-row independent
  (nearest centroid), so re-deriving assignments from the refreshed
  pack under FIXED centroids is exactly equivalent to incrementally
  ``add_items``-ing the new rows — one driver GEMM over the pack, no
  retrain, no job.

Centroids retrain only when the corpus has drifted past
``rebuild_threshold`` since training (rows added/updated/removed as a
fraction of the live set) — the merge-policy shape (Lucene/FAISS):
bounded staleness, amortized rebuilds. Training itself is
:func:`ann.kmeans.train` on a bounded sample of the live rows — correct
at any scale; only the packed serving twin is size-gated (oversize
collections serve through the distributed IVF operators instead).

Persistence mirrors the reference's ``index.bin``+state: centroids as
``.npy`` plus a ``meta.json`` keyed to the trained collection version
under ``<collection>/_ann/`` — a fresh handle serves without
retraining. Assignments are deliberately NOT persisted: they are a
deterministic function of (centroids, live rows), and at lakehouse
scale the persisted form is the list-partitioned table
(:meth:`ann.ivf.IVFIndex.save`), not a driver artifact.

String ids: the packed kernel ranks by int64 ids, so rows carry their
POSITION in the serving pack, whose id array is the label array (the
reference's ``_id_to_label`` mapping, ``vectordb_optimized.py:227``);
the pack is id-ascending, so position order is id order and distance
ties resolve by id.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

import numpy as np

from fastpyvectordb_spark.ann.ivf import IVFPacked, ivf_search_local
from fastpyvectordb_spark.ann import kmeans

REBUILD_THRESHOLD = 0.3  # retrain centroids past this drift fraction


class CollectionANN:
    """Driver-resident ANN index state for one Collection handle.

    Thread-safety contract (the REST server is ThreadingHTTPServer, so
    concurrent ``search_ann`` calls share this object): the derived
    serving state is ONE attribute, ``_serving = (packed, labels,
    version)``, swapped atomically — readers snapshot it once and never
    see a new pack with old labels. Refresh/train serialize on
    ``_refresh_lock``; searches stay lock-free (a thread that snapshot
    an older consistent state linearizes before the concurrent commit,
    the same contract as ``Collection.pack_serving``)."""

    def __init__(self, collection):
        self.c = collection
        self.centroids: np.ndarray | None = None
        self.meta: dict | None = None
        # (IVFPacked, labels ndarray, committed version, meta dict) —
        # publish/read as a unit; None until first ensure() or after a
        # retrain. meta is INSIDE the tuple so drop_ann_index racing a
        # search can't null it out from under a held snapshot.
        self._serving: tuple | None = None
        # RLock: ensure() holds it across a nested train() call
        self._refresh_lock = threading.RLock()

    # -- persistence --------------------------------------------------

    @property
    def _dir(self) -> str:
        return os.path.join(self.c.path, "_ann")

    def save(self) -> None:
        os.makedirs(self._dir, exist_ok=True)
        tok = uuid.uuid4().hex[:8]
        cp = os.path.join(self._dir, "centroids.npy")
        # np.save appends .npy to names without the suffix — keep it
        tmp = os.path.join(self._dir, f".centroids.{tok}.tmp.npy")
        np.save(tmp, self.centroids)
        os.rename(tmp, cp)
        mp = os.path.join(self._dir, "meta.json")
        tmp = mp + f".{tok}.tmp"
        with open(tmp, "w") as f:
            json.dump(self.meta, f)
        os.rename(tmp, mp)

    def load(self) -> bool:
        mp = os.path.join(self._dir, "meta.json")
        cp = os.path.join(self._dir, "centroids.npy")
        if not (os.path.exists(mp) and os.path.exists(cp)):
            return False
        with open(mp) as f:
            self.meta = json.load(f)
        self.centroids = np.load(cp)
        if "train_nonce" not in self.meta:
            # legacy meta predating the centroid-identity nonce: mint
            # one now so a FUTURE mark_clustered can key to these
            # centroids; any pre-existing clustered.json has no
            # matching nonce and is correctly treated as stale. The
            # persist is best-effort — load() must stay a read, so a
            # read-only index dir still serves (the in-memory nonce is
            # enough for this process; the next train()/save() on a
            # writable dir persists it).
            self.meta["train_nonce"] = uuid.uuid4().hex
            try:
                self.save()
            except OSError:
                pass
        return True

    def drop(self) -> None:
        import shutil

        with self._refresh_lock:
            shutil.rmtree(self._dir, ignore_errors=True)
            self.centroids = self.meta = self._serving = None

    # -- training -----------------------------------------------------

    def _watermark(self) -> tuple[int, int]:
        """(live row count, max _seq) — from the serving pack when it
        exists (zero jobs — the pack is version-current via the
        incremental refresh); only oversize collections pay the footer
        count + one tiny agg."""
        from pyspark.sql import functions as F

        pack = self.c.pack_serving()
        if pack is not None:
            n = len(pack["ids"])
            return n, (int(pack["seq"].max()) if n else 0)
        n = self.c.count()
        row = self.c._df_live(keep_seq=True).agg(
            F.coalesce(F.max("_seq"), F.lit(0)).alias("s")
        ).collect()
        return n, (int(row[0]["s"]) if row else 0)

    def refresh_watermark(self) -> None:
        """Re-stamp the trained state to the CURRENT version without
        retraining — for content-preserving rewrites (optimize): the
        centroids still describe the same rows, but every rewritten row
        carries a fresh ``_seq``, which the drift check would otherwise
        read as 100% churn and trigger a pointless retrain (which would
        also invalidate at-rest clustering stats)."""
        with self._refresh_lock:
            if self.meta is None:
                return
            n, seq_max = self._watermark()
            self.meta.update(
                {
                    "train_version": self.c._current_version(),
                    "train_seq_max": seq_max,
                    "n_train": int(n),
                }
            )
            self._serving = None  # positions changed with the rewrite
            self.save()

    def train(
        self,
        n_lists: int | None = None,
        max_iter: int = 20,
        seed: int = 42,
        train_rows: int | None = 200_000,
    ) -> dict:
        """Fit coarse centroids over a bounded sample of the live rows
        (:func:`ann.kmeans.train`) and persist them keyed to the
        current version."""
        n, seq_max = self._watermark()
        if n_lists is None:
            # √N, same rule and ceiling as ivf_build (r12: the old 256
            # clamp predated the assign_col dispatch — every caller of
            # list assignment (distributed fallback, at-rest
            # clustering, batch fallback) routes through assign_col,
            # which switches from the codegen expression to the
            # Arrow-GEMM pandas_udf above 1,024 centroid floats (≈ 16
            # centroids at 64 dims), so no Janino mega-expression can
            # arise at ANY list count; clusterer and fallback share the
            # one dispatcher, so footer-stat pruning sees the identical
            # assignment it was written under). √N keeps probe-pruned
            # scan fractions flat as the collection grows: 1M rows →
            # 1,000 lists instead of a 4× coarser 256.
            n_lists = int(max(8, min(65536, round(np.sqrt(max(n, 1))))))
        n_lists = min(n_lists, max(1, n))
        # n is already known: the sample needs no count job
        sample = kmeans.fit_sample(
            self.c.df(), "embedding", n_lists, seed, n, train_rows
        )
        centroids = kmeans.train(sample, n_lists, max_iter, seed)
        # swap centroids+meta and invalidate the derived state under
        # the refresh lock (RLock — ensure() may already hold it):
        # _assign_pack reads self.centroids more than once, so a public
        # build_ann_index() racing a locked refresh must serialize
        with self._refresh_lock:
            self.centroids = centroids
            self.meta = {
                "kind": "ivf",
                "metric": self.c.config.metric,
                "dims": self.c.config.dimensions,
                "n_lists": int(self.centroids.shape[0]),
                "train_version": self.c._current_version(),
                "train_seq_max": seq_max,
                "n_train": int(n),
                # centroid-identity nonce: at-rest clustering stats are
                # valid only for the EXACT centroids they were written
                # under, and train_version alone can collide (a retrain
                # with no intervening commit reuses the version string)
                "train_nonce": uuid.uuid4().hex,
            }
            # force re-assignment against the new centroids; readers
            # that already snapshot the old (packed, labels) pair stay
            # consistent
            self._serving = None
            # any prior at-rest clustering described the OLD geometry —
            # drop its marker so file-skipping can never follow stale
            # footer stats (the nonce check is the backstop; this keeps
            # the on-disk state honest too)
            try:
                os.remove(self._clustered_marker)
            except OSError:
                pass
            self.save()
            return dict(self.meta)

    # -- assignment / refresh ----------------------------------------

    def _drift(self, pack) -> float:
        """Fraction of the live set that changed since training: rows
        written after the train commit (adds + upsert rewrites) plus
        net removals of trained rows."""
        n = len(pack["ids"])
        if n == 0:
            return 0.0
        ts = self.meta["train_seq_max"]
        newer = int((pack["seq"] > ts).sum())
        surviving = n - newer
        removed = max(0, self.meta["n_train"] - surviving)
        return (newer + removed) / n

    def _assign_pack(self, pack) -> IVFPacked:
        """Group the serving pack's rows by nearest centroid — the
        fixed-centroid equivalent of ``add_items`` for every row that
        arrived since the last refresh (per-row independent, so the
        re-derivation is exact, and killed rows are already absent
        from the pack = ``mark_deleted``). Row ids are positions in
        the pack, so ``pack["ids"]`` maps them to labels."""
        vmat = pack["vmat"]  # (N, D) f32, id-ascending
        return IVFPacked.build(
            self.centroids,
            kmeans.assign(vmat, self.centroids),
            np.arange(vmat.shape[0], dtype=np.int64),
            vmat,
        )

    def ensure(self, auto_build: bool = True) -> tuple | None:
        """Bring the index to the current committed version and return
        the ``(packed, labels, version)`` snapshot the caller should
        search against (pass it to :meth:`search_batch` — holding the
        snapshot, not re-reading it, is what makes a concurrent retrain
        invisible). Returns None when serving is unavailable (no data,
        oversize pack, or no index and ``auto_build=False``). Lock-free
        when current; refreshes serialize on ``_refresh_lock`` (one
        thread trains / re-assigns, the rest wait and reuse its
        published state)."""
        ver = self.c._current_version()
        s = self._serving
        if s is not None and s[2] == ver:
            return s
        with self._refresh_lock:
            ver = self.c._current_version()
            if ver is None:
                return None
            s = self._serving
            if s is not None and s[2] == ver:  # refreshed while waiting
                return s
            if self.centroids is None and not self.load():
                if not auto_build:
                    return None
                self.train()
            pack = self.c.pack_serving()
            if pack is None:
                return None
            if self._drift(pack) > REBUILD_THRESHOLD:
                self.train()
            packed, labels = self._assign_pack(pack), pack["ids"]
            # meta rides in the snapshot so a concurrent drop_ann_index
            # (which nulls self.meta) can't fail a search that already
            # holds a consistent serving state
            s = (packed, labels, ver, dict(self.meta))
            self._serving = s
            return s

    # -- at-rest clustering (optimize(ann_cluster=True)) ---------------

    @property
    def _clustered_marker(self) -> str:
        return os.path.join(self._dir, "clustered.json")

    def mark_clustered(self, version: str, train_nonce: str) -> None:
        """Record that ``version``'s files were list-clustered under
        the centroids identified by ``train_nonce`` — file-skipping is
        valid only while the SAME centroids are current (a retrain
        changes every assignment, so stats from the old geometry must
        be ignored). The nonce is centroid IDENTITY, not a version
        string: a retrain with no intervening commit keeps the version
        but regenerates the nonce, so stale stats can never validate
        (the caller must pass the nonce captured when it COMPUTED the
        clustering, not re-read it — a concurrent retrain between the
        rewrite and this marker then mismatches, which is correct)."""
        os.makedirs(self._dir, exist_ok=True)
        tmp = self._clustered_marker + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"version": version, "train_nonce": train_nonce}, f
            )
        os.rename(tmp, self._clustered_marker)

    def _stats_usable(self) -> bool:
        if not os.path.exists(self._clustered_marker):
            return False
        try:
            with open(self._clustered_marker) as f:
                m = json.load(f)
        except (OSError, ValueError):
            return False
        meta = self.meta
        return (
            meta is not None
            and meta.get("train_nonce") is not None
            and m.get("train_nonce") == meta.get("train_nonce")
        )

    def _file_list_ranges(self, files) -> dict:
        """{relpath: (min_list, max_list)} from parquet footer column
        stats of ``_ann_list`` — pool files are immutable, so entries
        cache forever; files without the column (pre-cluster or
        DML-rewritten) get no entry and are never skipped."""
        import pyarrow.parquet as papq

        cache = self.__dict__.setdefault("_range_cache", {})
        out = {}
        for rel in files:
            if rel in cache:
                if cache[rel] is not None:
                    out[rel] = cache[rel]
                continue
            rng = None
            try:
                md = papq.ParquetFile(
                    os.path.join(self.c.path, rel)
                ).metadata
                lo = hi = None
                usable = md.num_row_groups > 0
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    gstat = None
                    for ci in range(rg.num_columns):
                        col = rg.column(ci)
                        if col.path_in_schema == "_ann_list":
                            gstat = col.statistics
                            break
                    # every row group must carry valid stats, else the
                    # file's range is unknown → never skip it
                    if gstat is None or not gstat.has_min_max:
                        usable = False
                        break
                    lo = gstat.min if lo is None else min(lo, gstat.min)
                    hi = gstat.max if hi is None else max(hi, gstat.max)
                if usable and lo is not None:
                    rng = (int(lo), int(hi))
            except Exception:
                rng = None
            cache[rel] = rng
            if rng is not None:
                out[rel] = rng
        return out

    # -- search -------------------------------------------------------

    def search_distributed(
        self, query_vecs, k: int = 10, nprobe: int | None = None
    ) -> list[list[tuple[str, float]]]:
        """Probed search for collections ABOVE the serving-pack
        threshold — the regime the packed kernel refuses. Same trained
        centroids, applied as a compute-pruned distributed scan: the
        nearest-centroid filter is pure codegen inside the scan (no
        assignment table, no shuffle), survivors flow into the exact
        ``knn`` TakeOrdered plan — only k rows per partition ever move.
        Correct at ANY committed version with ZERO index maintenance
        (assignment is recomputed in the scan). At 100 TB pair this
        with the at-rest layouts that turn the probe into IO pruning:
        :meth:`ann.ivf.IVFIndex.save` (list-partitioned parquet) or
        ``optimize(zorder_by=...)`` row-group skipping — this fallback
        prunes compute, those prune reads."""
        from pyspark.sql import functions as F

        from fastpyvectordb_spark.operators.knn import knn

        # snapshot shared state once (concurrent retrain safety), and
        # treat a half-dropped index (drop_ann_index nulls centroids
        # then meta) as a clean "no index" miss, not a TypeError
        cents, meta = self.centroids, self.meta
        if cents is None or meta is None:
            return None
        from fastpyvectordb_spark.ann.ivf import _resolve_nprobe

        nprobe = _resolve_nprobe(nprobe, cents.shape[0])
        lid = kmeans.assign_col(F.col("embedding"), cents)
        # at-rest clustering (optimize(ann_cluster=True)): plan the
        # probe against footer stats — files whose [min,max] list
        # interval misses every probe never get scanned, and the
        # surviving scans take a pushed `_ann_list IN probes` filter
        # (row-group skipping). Valid only while the clustering
        # centroids are still the trained ones.
        ver = self.c._current_version()
        ranges: dict = {}
        all_files: list[str] = []
        if self._stats_usable():
            all_files, _ = self.c._resolve(ver)
            ranges = self._file_list_ranges(all_files)
        df_all = self.c.df()
        out: list[list[tuple[str, float]]] = []
        from fastpyvectordb_spark.ann.ivf import centroid_probe_scores

        for qv in query_vecs:
            q = np.asarray(qv, dtype=np.float64)
            d = centroid_probe_scores(cents, q[None, :])[0]
            probes = [int(i) for i in np.argsort(d)[:nprobe]]
            if ranges:
                pset = set(probes)
                keep = [
                    f for f in all_files
                    if f not in ranges
                    or any(
                        ranges[f][0] <= p <= ranges[f][1] for p in pset
                    )
                ]
                if not keep:  # every file provably misses every probe
                    out.append([])
                    continue
                if len(keep) < len(all_files):
                    sub = self.c._df_live_files(keep, ver)
                    if "_ann_list" in sub.columns:
                        # NULL = unclustered file rows: kept for the
                        # exact codegen filter below
                        sub = sub.filter(
                            F.col("_ann_list").isNull()
                            | F.col("_ann_list").isin(probes)
                        ).drop("_ann_list")
                else:
                    sub = df_all
            else:
                sub = df_all
            cand = (
                sub.withColumn("_lid", lid)
                .filter(F.col("_lid").isin(probes))
                .drop("_lid")
            )
            hits = knn(
                cand, list(qv), k=k, metric=meta["metric"],
                id_col="id", vec_col="embedding",
            ).collect()  # bounded: k rows
            out.append([(str(r["id"]), float(r["dist"])) for r in hits])
        return out

    def search_distributed_batch(
        self, query_vecs, k: int = 10, nprobe: int | None = None
    ):
        """ONE distributed job for an oversize query batch: the corpus
        scans once with its list id, each row joins (broadcast) only
        the queries that probe its list, and a window ranks per query —
        the same scored-pair volume as the per-query loop without Q job
        launches or Q corpus reads. File planning skips against the
        UNION of all queries' probes. Returns pandas
        ``(query_id, rank, id, dist)``."""
        plan = self._distributed_batch_plan(query_vecs, k=k, nprobe=nprobe)
        if plan is None:
            return None
        if not hasattr(plan, "toPandas"):
            return plan  # clean-empty: already a pandas frame
        return plan.toPandas()

    def _distributed_batch_plan(
        self, query_vecs, k: int = 10, nprobe: int | None = None
    ):
        """The lazy DataFrame behind :meth:`search_distributed_batch`
        (split out so plan tests can assert its join strategy)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from fastpyvectordb_spark.functions.distances import distance

        # same one-shot snapshot + clean-miss contract as
        # search_distributed (concurrent drop/retrain safety)
        cents, meta = self.centroids, self.meta
        if cents is None or meta is None:
            return None
        from fastpyvectordb_spark.ann.ivf import _resolve_nprobe

        nprobe = _resolve_nprobe(nprobe, cents.shape[0])
        Q = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in query_vecs]
        )
        from fastpyvectordb_spark.ann.ivf import centroid_probe_scores

        cd = centroid_probe_scores(cents, Q)
        probe = np.argsort(cd, axis=1)[:, :nprobe]
        union = sorted({int(x) for x in probe.ravel()})
        ver = self.c._current_version()
        sub = None
        if self._stats_usable():
            all_files, _ = self.c._resolve(ver)
            ranges = self._file_list_ranges(all_files)
            if ranges:
                uset = set(union)
                keep = [
                    f for f in all_files
                    if f not in ranges
                    or any(
                        ranges[f][0] <= p <= ranges[f][1] for p in uset
                    )
                ]
                if not keep:
                    import pandas as pd

                    return pd.DataFrame(
                        columns=["query_id", "rank", "id", "dist"]
                    )
                if len(keep) < len(all_files):
                    sub = self.c._df_live_files(keep, ver)
                    if "_ann_list" in sub.columns:
                        sub = sub.filter(
                            F.col("_ann_list").isNull()
                            | F.col("_ann_list").isin(union)
                        ).drop("_ann_list")
        if sub is None:
            sub = self.c.df()
        lid = kmeans.assign_col(F.col("embedding"), cents)
        # (query, probed list) pairs PRE-EXPLODED on the driver (tiny:
        # nq × nprobe rows) so the probe attach is an EQUI-join on the
        # list id — the old array_contains(probes, _lid) condition made
        # Spark pick BroadcastNestedLoopJoin, whose predicate-eval cost
        # is O(candidate rows × queries) and grows with the batch; the
        # broadcast hash join matches the identical pair set (probe
        # lists are distinct argsort indices) at O(candidates + pairs)
        qdf = self.c.spark.createDataFrame(
            [
                (int(i), [float(x) for x in Q[i]], int(p))
                for i in range(Q.shape[0])
                for p in probe[i]
            ],
            "query_id long, query_vec array<float>, _lid int",
        )
        cand = sub.withColumn("_lid", lid).filter(
            F.col("_lid").isin(union)
        )
        dist = F.round(
            distance(F.col("embedding"), F.col("query_vec"), meta["metric"]),
            6,
        )
        scored = cand.join(F.broadcast(qdf), "_lid").select(
            "query_id", F.col("id"), dist.alias("dist")
        )
        w = Window.partitionBy("query_id").orderBy("dist", "id")
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "id", "dist")
        )

    def search_one(
        self, query_vec, k: int = 10, nprobe: int | None = None, serving=None
    ) -> list[tuple[str, float]]:
        """Single-query packed search as ``[(id, dist), ...]`` — the
        pandas-free serving hot path (REST ANN route). Kernel is
        bit-identical to :meth:`search_batch`'s nq==1 rows
        (:func:`ivf_search_local_one`); same label mapping and
        6-decimal rounding."""
        from fastpyvectordb_spark.ann.ivf import ivf_search_local_one

        packed, labels, _, meta = (
            serving if serving is not None else self._serving
        )
        from fastpyvectordb_spark.ann.ivf import _resolve_nprobe

        pos, dist = ivf_search_local_one(
            packed,
            query_vec,
            k=k,
            nprobe=_resolve_nprobe(nprobe, packed.centroids.shape[0]),
            metric=meta["metric"],
        )
        dist = np.round(dist, 6)
        return [
            (str(labels[p]), float(d)) for p, d in zip(pos, dist)
        ]

    def search_batch(
        self, queries_pdf, k: int = 10, nprobe: int | None = None, serving=None
    ):
        """(query_id, rank, id, dist) with string ids; probed packed
        kernel (:func:`ivf_search_local`), distances rounded like
        ``search_local``. ``serving`` is the snapshot from
        :meth:`ensure`; reading the state ONCE (and never re-reading
        ``self._serving`` mid-search) is what guarantees a concurrent
        refresh/retrain can never pair a new pack with old labels."""
        packed, labels, _, meta = (
            serving if serving is not None else self._serving
        )
        from fastpyvectordb_spark.ann.ivf import _resolve_nprobe

        res = ivf_search_local(
            packed,
            queries_pdf,
            k=k,
            nprobe=_resolve_nprobe(nprobe, packed.centroids.shape[0]),
            metric=meta["metric"],
            id_col="_pos",
        )
        res["id"] = labels[res["_pos"].to_numpy()]
        res["dist"] = res["dist"].round(6)
        return res[["query_id", "rank", "id", "dist"]]
