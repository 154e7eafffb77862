"""Compact bench-tape contract (VERDICT r11 #1).

The driver parses the LAST stdout line of bench.py from a fixed
~2,000-char tail window. Round 11's top-4 shed starved the driver's
per-query comparison (n_common=2) and emptied the scaling block; the
r12 packer puts per-query timings first (floor 16, target all) and
fills the rest of the budget with extras in priority order. These
tests pin that contract without starting Spark.
"""

import json
import random

import importlib.util
import pathlib

import pytest

_BENCH = pathlib.Path(__file__).resolve().parent.parent / "bench.py"


@pytest.fixture(scope="module")
def bench_mod():
    spec = importlib.util.spec_from_file_location("_benchmod", _BENCH)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


# the 46 bench timing rows — contract keys, never renamed; a row
# retires only together with its operator, named in CHANGES.md
_ROWS = """q_bm25_batch q_bm25_build q_bm25_local q_bm25_query
q_bq_hamming_local_100k q_collection_ann_batch q_dedup_embedding_topk
q_dedup_minhash_lsh q_dedup_substring_spans q_dml_delete_1k
q_dml_delete_1k_fast q_dml_ingest_collection_100k q_dml_upsert_1k
q_dml_upsert_point q_events_window q_graph_bfs q_hybrid_batch
q_hybrid_fusion q_hybrid_fusion_indexed q_hybrid_local q_ingest_100k
q_knn_batch_auto q_knn_batch_auto_100k q_knn_batch_gemm
q_knn_batch_gemm_100k q_knn_exact q_knn_exact_100k
q_knn_exact_batch_local_100k q_knn_exact_local_100k q_knn_filtered
q_knn_ivf_100k q_knn_ivf_batch_100k q_knn_ivf_local_100k
q_knn_ivfpq_batch_100k q_knn_ivfpq_local_100k q_pipeline_clean_corpus q_pq_adc_local_100k q_pricing_summary
q_rag_chunk_embed q_server_get_300 q_server_search_300
q_server_search_ann_300 q_server_search_c8 q_sq_scan_local_100k
q_text_word_entropy q_top_orders""".split()


def _timings(seed=0, scale=1.0):
    rng = random.Random(seed)
    return {
        n: round(rng.uniform(0.05, 8.0) * scale, 3) for n in _ROWS
    }


def _extras_like_r11():
    # the r11 tape's extras block, the richest recorded
    rec = json.load(open(_BENCH.parent / "BENCH_r11.json"))["parsed"]
    extras = {
        k: v
        for k, v in rec.items()
        if k not in ("metric", "value", "unit", "sf", "queries")
    }
    extras.update(
        ivfpq_build_sec=121.3, ivf_build_sec=9.1,
        collection_ann_build_sec=14.2, ann_cluster_optimize_sec=5.5,
        neardup_routed_sec=10.2, neardup_kept_block_frac=0.4,
        neardup_routed=True,
    )
    return extras


def test_all_queries_survive_at_bench_shape(bench_mod):
    timings = _timings()
    line = bench_mod.compact_tape(75.82, 0.1, timings, _extras_like_r11())
    d = json.loads(line)
    assert len(line) <= 2000
    assert len(d["queries"]) == len(timings), (
        "all 46 per-query timings must fit the tail window at the "
        "bench shape"
    )
    # mandatory, non-derivable extras always present
    assert d["host_index"] == 0.385
    assert d["ivfpq_recall_at_k"] == 0.9008, "recall must keep 4 decimals"
    assert d["ann_files_skipped_frac"] == 0.7939
    # baseline-gate rows present (compressed to ints >= 100)
    for k in ("serving_local_qps", "collection_ann_batch_qps",
              "exact_local_qps", "bq_local_qps", "sq_local_qps",
              "gemm_100k_qps", "ivfpq_batch_qps", "ingest_vec_per_sec",
              "ivfpq_build_sec"):
        assert k in d, k


def test_c8_run_keeps_full_query_dict(bench_mod):
    # the r11 c8 run shed `queries` entirely; longer timings (more
    # digits) must still leave the full dict on the tape
    timings = _timings(scale=3.3)
    line = bench_mod.compact_tape(250.1, 0.1, timings, _extras_like_r11())
    d = json.loads(line)
    assert len(line) <= 2000
    assert len(d["queries"]) == len(timings)


def test_query_floor_is_16_under_extreme_pressure(bench_mod):
    # 120 long-named rows cannot all fit: extras must give way first,
    # and the floor is 16 query rows, never zero
    timings = {
        f"q_{'verylongquerynamefragment' * 2}_{i:03d}": 1.234
        for i in range(120)
    }
    line = bench_mod.compact_tape(100.0, 0.1, timings, _extras_like_r11())
    d = json.loads(line)
    assert len(line) <= 2000
    assert len(d["queries"]) >= 16
    # mandatory extras survive even then
    assert "host_index" in d and "ivfpq_recall_at_k" in d


def test_slowest_rows_kept_when_trimming(bench_mod):
    timings = {
        f"q_{'verylongquerynamefragment' * 2}_{i:03d}": float(i)
        for i in range(120)
    }
    d = json.loads(
        bench_mod.compact_tape(100.0, 0.1, timings, _extras_like_r11())
    )
    kept = set(d["queries"])
    slowest = sorted(timings, key=timings.get, reverse=True)[: len(kept)]
    assert kept == set(slowest)
