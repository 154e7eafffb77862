"""Dump ``explain("formatted")`` for named suite queries to text files.

Usage:
    python tools/dump_plans.py <out_dir> <suffix> [sf_dir] [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each query (default: the
round-11 touched set). Used to produce the ``plans/r11/*_before.txt`` /
``*_after.txt`` evidence pairs: run once from a worktree pinned at the
pre-round commit with suffix ``before`` and once at HEAD with ``after``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "graph_traverse",
    "graph_bfs_levels",
    "graph_shortest_path",
    "gv_edge_similarity",
    "gv_semantic_expansion",
    "gv_traverse_rerank",
    "ann_ivf_knn",
    "ann_ivfpq_knn",
    "ann_ivf_batch_knn",
    "dedup_embedding_lsh_threshold",
]


def main() -> int:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r11"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = sys.argv[4:] or DEFAULT_QUERIES

    os.makedirs(out_dir, exist_ok=True)

    from fastpyvectordb_spark.session import get_spark
    from fastpyvectordb_spark.suite import queries

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    reg = queries()

    for name in names:
        if name not in reg:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"dump_plans: {name}")
        df = reg[name](spark, sf_dir)
        txt = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
