"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[n]`` (n from ``session.local_cpus``: ``$SPARK_GRAFT_CPUS``, else
the CPUs the process may run on) and prints ONE JSON line::

    {"metric": "headline_suite_sec", "value": N, "unit": "sec",
     "queries": {key: sec}, "cpu_s": {key: {kind: sec}},
     "sf": ..., "scale_mult": ...}

Each query is forced end-to-end with a noop-format write (full
computation, no driver collect overhead). The headline set covers the
engine's workload shapes: scan+agg, selective multiway join, window,
event-time windows, the config-pipeline transform, MinHash-LSH dedup
and brute-force vector top-k.

``queries`` holds each key's minimum wall time over three reps, and
``cpu_s`` the CPU seconds that rep spent, split by kind as perfbench
splits them: ``work`` (the driver and the JVM threads running the
engine), ``jit``, ``gc`` and ``pyworker`` (Python workers). Hypervisor
steal moves wall time but not thread CPU (perfbench/METRICS.md,
"Steadiness"), so a key whose wall time rose while its ``work`` CPU
held was slowed by the host, not by the engine.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.run import _jvm_pid, cpu_delta, cpu_snapshot  # noqa: E402
from php_etl_spark import queries as Q  # noqa: E402
from php_etl_spark.session import get_spark  # noqa: E402
from tools.scale_probe import release_storage  # noqa: E402

HEADLINE = [
    "agg_groupby_sum",      # TPC-H Q1 shape: scan + grouped exact agg
    "join_multiway",        # Q3 shape: selective dim x fact joins
    "join_star_q5",         # Q5 shape: 6-table star join
    "join_lookup",          # broadcast lookup join over lineitem
    "window_topk_per_group",  # window function over orders
    "stream_tumbling",      # event-time windows (streaming state)
    "pipeline_etl",         # config pipeline: map + first-wins dedup
    "dedup_minhash_lsh",    # LLM: subquadratic near-dup
    "sim_topk_bruteforce",  # LLM: vector top-k
    "join_mktshare_q8",     # Q8 shape: dual-role dim star + ratio agg
    "dedup_semantic",       # LLM: SemDeDup cluster-bounded cosine prune
    "join_asof",            # as-of backward join (time-series PIT)
    "window_percent_rank_cume",  # rank-family window over lineitem
    "agg_max_concurrent",   # segmented prefix-sum boundary sweep
    "docs_dsir_weights",    # LLM: hashed-unigram importance weights
    "text_bpe_pair_counts",  # LLM: BPE merge-iteration pair counting
    "geo_grid_knn",         # geo: cell-bucketed proximity join + top-k
    "sim_sparse_tfidf_topk",  # LLM: df-bounded inverted-index cosine
    "ml_auc_rank",          # rank-sum AUC, no global sort
    "sim_maxsim_late_interaction",  # ColBERT MaxSim, integer dots
    "graph_bipartite_copurchase",  # per-order C(n,2) pair fan-out
    "ts_ewma_recursive",    # applyInPandas IIR recurrence per key
    "ml_ndcg_mrr",          # exact-integer NDCG@5/MRR, per-query window
    "ts_forecast_backtest",  # Holt carry pass emitting one-step MAE
    "graph_pagerank_exact",  # 6-round integer PageRank, per-round jobs
    "text_bm25_topk",       # token explode + broadcast corpus stats
    "docs_pack_sequences",  # segmented prefix-sum concat-and-chunk
    "docs_paragraph_dedup",  # global first-wins span dedup + reassembly
    "sim_binary_hamming_topk",  # 1-bit quantized XOR/popcount scan
    "ml_ridge_closed_form",  # nine moments -> Cramer solve, one pass
    "window_hampel_filter",  # 7-sample sorted-frame median/MAD despike
    "agg_heavy_hitters",     # per-partition Misra-Gries + exact recount
    "dedup_prefix_filter_join",  # rarity-prefix index + exact verify
    "event_lindley_queue",   # stacked prefix windows (queue sim)
    "docs_longest_dup_substring",  # Lee-et-al ExactSubstr, distributed
]


def force(df) -> int:
    """Execute the full plan; noop write avoids driver-side collect."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def time_queries(
    spark, names: list[str], sf_dir: str, reps: int = 3
) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Time each key ``reps`` times, building its plan afresh each rep.
    Returns ({key: min wall seconds}, {key: that rep's CPU seconds by
    kind}). Every rep starts with the storage earlier reps pinned
    released, outside the timed window, so a late key does not run
    against an early key's blocks."""
    jvm = _jvm_pid()
    times: dict[str, float] = {}
    cpu: dict[str, dict[str, float]] = {}
    for name in names:
        best = float("inf")
        for _ in range(reps):
            release_storage(spark)
            before = cpu_snapshot(jvm)
            t0 = time.perf_counter()
            force(Q.QUERIES[name](spark, sf_dir))
            wall = time.perf_counter() - t0
            used = cpu_delta(before, cpu_snapshot(jvm))
            if wall < best:
                best = wall
                cpu[name] = {k: round(v, 2) for k, v in used.items()}
        times[name] = round(best, 3)
    return times, cpu


def main() -> int:
    # streaming state-store count should track the keyspace (5 event
    # types x 24 windows here), not the core count — each store
    # instance has fixed per-batch overhead
    os.environ.setdefault("SPARK_GRAFT_STREAM_PARTITIONS", "8")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    # opt-in input multiplier (catalog.py); recorded so runs at
    # different multipliers are never compared as like for like
    scale_mult = max(1, int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "1")))
    spark = get_spark("php-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/code paths once on the smallest SF so per-query
    # numbers measure the engine, not first-call JIT/codegen
    warm = "/root/testdata/sf0.001"
    if os.path.exists(warm):
        for name in HEADLINE:
            try:
                force(Q.QUERIES[name](spark, warm))
            except Exception:
                pass

    times, cpu = time_queries(spark, HEADLINE, sf_dir)
    print(
        json.dumps(
            {
                "metric": "headline_suite_sec",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "cpu_s": cpu,
                "sf": sf,
                "scale_mult": scale_mult,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
