"""IVF serving recall/throughput trade-off curve (the classic ANN
operating-point table; reference methodology: recall@k vs exact over
sampled stored queries, quantization.py:691-703).

Builds the bench's 100K×64 corpus, packs the IVF serving index, and
for each nprobe measures recall@10 against the exact scan and the
packed single-query + batch QPS. Prints one JSON line; paste into
README's serving section.

Usage: python tools/recall_curve.py [n_rows] [n_lists]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_lists = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from fastpyvectordb_spark.ann.ivf import (
        ivf_build,
        ivf_pack,
        ivf_search_local,
        ivf_search_local_one,
    )
    from fastpyvectordb_spark.operators.knn import exact_scan
    from fastpyvectordb_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    emb = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda d: (
                    F.sin(
                        F.col("id") * 0.7 + d * 1.3 + F.col("id") * d * 0.0137
                    )
                    + F.sin(F.col("id") * 91.7 + d * 47.111) * 0.1
                ).cast("float"),
            ).alias("embedding"),
        )
        .repartition(32)
    )
    t0 = time.perf_counter()
    packed = ivf_pack(ivf_build(emb, n_lists=n_lists, max_iter=10))
    build_sec = round(time.perf_counter() - t0, 1)

    rng = np.random.RandomState(42)
    qidx = rng.choice(n, 256, replace=False)
    qmat = packed.vmat[np.searchsorted(packed.ids, np.sort(qidx))].astype(
        np.float64
    )
    truth = [
        set(exact_scan(
            packed.vmat, packed.ids, packed.norms, packed.sqnorms, q, 10,
            "cosine",
        )[0])
        for q in qmat
    ]
    qpdf = pd.DataFrame(
        {"query_id": range(len(qmat)), "query_vec": [list(q) for q in qmat]}
    )

    out = {"n_rows": n, "n_lists": n_lists, "build_sec": build_sec,
           "curve": []}
    for nprobe in (1, 2, 4, 8, 16, n_lists):
        res = ivf_search_local(packed, qpdf, k=10, nprobe=nprobe)
        hits = sum(
            len(truth[qid] & set(g["vec_id"]))
            for qid, g in res.groupby("query_id")
        )
        recall = round(hits / (10 * len(qmat)), 4)
        gc.collect()
        gc.disable()
        t0 = time.perf_counter()
        for q in qmat[:64]:
            ivf_search_local_one(packed, q, k=10, nprobe=nprobe)
        single_qps = round(64 / (time.perf_counter() - t0), 1)
        t0 = time.perf_counter()
        ivf_search_local(packed, qpdf, k=10, nprobe=nprobe)
        batch_qps = round(len(qmat) / (time.perf_counter() - t0), 1)
        gc.enable()
        out["curve"].append(
            {"nprobe": nprobe, "recall_at_10": recall,
             "single_qps": single_qps, "batch_qps": batch_qps}
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
