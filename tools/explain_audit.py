"""Physical-plan audit: machine-checked scale properties.

Correctness says the answer is right; this says the PLAN is right —
the properties that decide whether a query survives a 100× scale-up:

  - pushdown:   filters reach the parquet scan (``PushedFilters``)
  - pruning:    the scan reads only referenced columns (``ReadSchema``)
  - broadcast:  dimension joins broadcast the small side (no shuffle
                of the fact table for a lookup join)
  - codegen:    the hot path sits inside WholeStageCodegen spans
  - no-crossjoin: nothing degenerates to an unconditioned
                CartesianProduct

Usage::

    python tools/explain_audit.py [--sf DIR] [name ...]

Exit code 0 iff every audited assertion holds. Add entries to AUDITS
as operators gain plan-shape guarantees.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filter(plan: str) -> bool:
    return bool(re.search(r"PushedFilters: \[(?!\])", plan))


def has_codegen(plan: str) -> bool:
    # codegen spans render as "*(n) Op" in the executed plan string
    return bool(re.search(r"^\s*[+:]?[- ]*\*\(\d+\)", plan, re.M))

def read_schema_cols(plan: str) -> list[int]:
    return [s.count(":") for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)]


# name -> list of (description, predicate(plan_string))
AUDITS = {
    "join_interval_binned": [
        ("equi-join on the grid bin, no nested loop / cartesian",
         lambda p: "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p),
        ("no BroadcastNestedLoop (would be the O(PxI) plan)",
         lambda p: "BroadcastNestedLoop" not in p and "CartesianProduct" not in p),
    ],
    "agg_ewma_fir": [
        ("one Window node computes all ten taps (no per-lag passes)",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") == 1),
        ("single window exchange on the series key",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 1),
    ],
    "graph_triangle_count": [
        ("no cartesian/nested-loop anywhere (wedge join is keyed)",
         lambda p: "CartesianProduct" not in p and "BroadcastNestedLoop" not in p),
        ("closing-edge check is a semi join, not a full join",
         lambda p: "LeftSemi" in p),
    ],
    "agg_basket_lift": [
        ("item-count sides broadcast", lambda p: p.count("BroadcastHashJoin") >= 2),
        ("no cartesian product",
         lambda p: "CartesianProduct" not in p),
    ],
    "agg_ohlc_bars": [
        ("single aggregate pass, no window exchange beyond the groupBy",
         lambda p: "Window" not in p),
        ("partial aggregation before shuffle (map-side combine)",
         lambda p: "partial_" in p or "HashAggregate" in p.split("Exchange")[-1]),
    ],
    "sim_ann_pq_adc": [
        ("query/dtable side broadcast, corpus never shuffled pre-score",
         lambda p: "BroadcastNestedLoop" in p or "BroadcastHashJoin" in p),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
    ],
    "emb_pq_residual_exact": [
        ("centroids + residual codebook broadcast (corpus side narrow)",
         lambda p: "BroadcastNestedLoop" in p or "BroadcastHashJoin" in p),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
    ],
    "graph_mst_boruvka_round1": [
        ("co-purchase self-join is a keyed equi-join, never cartesian",
         lambda p: "CartesianProduct" not in p),
        ("per-component argmin is one window over the edge list",
         lambda p: "Window" in p),
    ],
    # ml_gbdt_stump1_exact returns a driver-built one-row table (the
    # training loop runs at plan construction), so its final plan is a
    # LocalTableScan with nothing to assert — its heavy stage (the
    # gradient histogram) is covered by ml_gbdt_histogram's assertions
    # and the key's own cross-engine oracle.
    "table_diff_snapshots": [
        ("single full-outer join (SortMergeJoin FullOuter)",
         lambda p: "FullOuter" in p),
    ],
    "sim_maxsim_late_interaction": [
        ("query token set broadcast; corpus side never shuffled pre-score",
         lambda p: "BroadcastNestedLoop" in p or "BroadcastHashJoin" in p),
        ("no unconditioned cartesian", lambda p: "CartesianProduct" not in p),
        ("integer dot/max/sum in codegen", has_codegen),
    ],
    "ts_seasonal_decompose": [
        ("24x|types| seasonal profile broadcast onto the stream",
         lambda p: "BroadcastHashJoin" in p),
        ("no window over the raw event stream", lambda p: "Window" not in p),
    ],
    "ml_gbdt_histogram": [
        ("one shuffle total: histogram agg is map-side combined",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 1),
        ("column-pruned scan (3 of 16 lineitem cols)",
         lambda p: all(n <= 3 for n in read_schema_cols(p))),
    ],
    "ml_negative_sampling": [
        ("exclusion is a real anti join keyed on (supplier, item)",
         lambda p: "LeftAnti" in p),
        ("no unconditioned cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "graph_clustering_coeff": [
        ("wedge closure is a semi join, not a full join",
         lambda p: "LeftSemi" in p),
        ("no unconditioned cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "multimodal_aspect_bucket": [
        ("5-row bucket table broadcast (nested-loop against a const side)",
         lambda p: "BroadcastNestedLoop" in p or "BroadcastHashJoin" in p),
        ("no unconditioned cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "ml_gbdt_split_gain": [
        ("prefix-sum windows run over the histogram, after the aggregate",
         lambda p: "HashAggregate" in p and "Window" in p),
        ("no cartesian / nested loop",
         lambda p: "CartesianProduct" not in p and "BroadcastNestedLoop" not in p),
    ],
    "scan_lineitem": [
        ("filter pushed to parquet scan", has_pushed_filter),
        ("column-pruned scan (<=6 of 16 lineitem cols)",
         lambda p: all(n <= 6 for n in read_schema_cols(p))),
        ("whole-stage codegen", has_codegen),
    ],
    "agg_groupby_sum": [
        ("filter pushed to parquet scan", has_pushed_filter),
        ("partial aggregation before shuffle (map-side combine)",
         lambda p: "partial_" in p or "HashAggregate" in p.split("Exchange")[-1]),
        ("whole-stage codegen", has_codegen),
    ],
    "join_lookup": [
        ("dimension side broadcast (no fact shuffle)",
         lambda p: "BroadcastHashJoin" in p),
        ("no shuffle exchange on the fact side",
         lambda p: "Exchange hashpartitioning" not in p.split("BroadcastHashJoin")[0]),
    ],
    "join_inner": [
        ("broadcast or shuffle hash join chosen (not nested loop)",
         lambda p: "HashJoin" in p or "SortMergeJoin" in p),
    ],
    "join_multiway": [
        ("all dim joins broadcast", lambda p: p.count("BroadcastHashJoin") >= 1),
        ("filters pushed", has_pushed_filter),
    ],
    "join_range": [
        ("tiny interval side broadcast (BroadcastNestedLoopJoin)",
         lambda p: "BroadcastNestedLoop" in p),
    ],
    "join_asof": [
        ("single shuffle on the join key, no range explosion",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
    ],
    "window_topk_per_group": [
        ("rank filter applied before any further ops (WindowGroupLimit pushdown)",
         lambda p: "WindowGroupLimit" in p or "Window" in p),
    ],
    "topk": [
        ("executed as TakeOrderedAndProject (no full sort)",
         lambda p: "TakeOrderedAndProject" in p),
    ],
    "dedup_first": [
        ("dedup is a shuffle, not a driver-side cache",
         lambda p: "Exchange hashpartitioning" in p or "Window" in p),
    ],
    "sim_topk_bruteforce": [
        ("query vectors broadcast, corpus never shuffled",
         lambda p: "Broadcast" in p),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
    ],
    "dedup_exact": [
        ("no full-row shuffle: hash-grouped on key columns",
         lambda p: "Exchange" in p),
    ],
    "sink_partitioned": [
        ("partition-pruned read-back (PartitionFilters at the scan)",
         lambda p: bool(re.search(r"PartitionFilters: \[(?!\])", p))),
    ],
    "docs_chunk": [
        ("chunking is a narrow op: no shuffle exchange",
         lambda p: "Exchange" not in p),
    ],
    "agg_salted_twophase": [
        ("two aggregation levels (salted partial + final)",
         lambda p: p.count("HashAggregate") >= 3),
    ],
    "limit_sample_stratified": [
        ("sampling predicate evaluated at scan side, no shuffle",
         lambda p: "Exchange" not in p),
    ],
    "subquery_correlated_min": [
        ("decorrelated to aggregate + join (no per-row subquery)",
         lambda p: ("HashJoin" in p or "SortMergeJoin" in p)
         and "HashAggregate" in p),
    ],
    "subquery_exists": [
        ("EXISTS rewritten to a semi join",
         lambda p: "LeftSemi" in p),
    ],
    "subquery_having_in": [
        ("IN-over-aggregate rewritten to a semi join",
         lambda p: "LeftSemi" in p),
    ],
    "join_star_q5": [
        ("every dimension broadcast (≥3 broadcast joins)",
         lambda p: p.count("BroadcastHashJoin") >= 3),
        ("date + region filters pushed to scans", has_pushed_filter),
        ("AQE re-planned to the final adaptive plan",
         lambda p: "AdaptiveSparkPlan isFinalPlan=true" in p),
    ],
    "dedup_minhash_lsh": [
        ("no all-pairs blowup: banded bucket pairing, never cartesian",
         lambda p: "CartesianProduct" not in p),
        ("candidate pairs stream from grouped bucket postings "
         "(posexplode generator — r13; the old bucket self-join "
         "recomputed the whole signature subtree once per side)",
         lambda p: "posexplode" in p),
        ("exact-Jaccard verification joins are keyed hash joins",
         lambda p: "HashJoin" in p or "SortMergeJoin" in p),
    ],
    "stream_stream_join": [
        ("both stream sides watermarked (state is bounded)",
         lambda p: p.count("EventTimeWatermark") >= 2),
        ("interval condition present in the stream-stream join",
         lambda p: "StreamingSymmetricHashJoin" in p),
    ],
    "join_volume_q7": [
        ("both nation dims broadcast",
         lambda p: p.count("BroadcastHashJoin") >= 2),
        ("no cartesian from the disjunctive pair filter",
         lambda p: "CartesianProduct" not in p),
    ],
    "subquery_exists_agg_q4": [
        ("EXISTS decorrelated to a semi join",
         lambda p: "LeftSemi" in p),
        ("aggregation after the semi join, partial+final",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "subquery_in_groupby_q18": [
        ("IN-over-HAVING executed as a semi join",
         lambda p: "LeftSemi" in p),
    ],
    "subquery_anti_avg_q22": [
        ("NOT EXISTS executed as an anti join",
         lambda p: "LeftAnti" in p),
        ("scalar avg broadcast (single-row side), no fact shuffle for it",
         lambda p: "Broadcast" in p),
    ],
    "join_hinted_shuffle_hash": [
        ("hint honored: shuffled hash join, not sort-merge",
         lambda p: "ShuffledHashJoin" in p and "SortMergeJoin" not in p),
    ],
    "sink_range_clustered": [
        ("time filter pushed to the clustered scan (row-group pruning)",
         lambda p: has_pushed_filter(p)),
    ],
    "join_priority_q3": [
        ("segment + date filters pushed to scans", has_pushed_filter),
        ("top-10 executed as TakeOrderedAndProject (no global sort)",
         lambda p: "TakeOrderedAndProject" in p),
    ],
    "agg_forecast_q6": [
        ("date/quantity predicates pushed to the parquet scan",
         has_pushed_filter),
        ("scan reads only the 4 referenced lineitem columns",
         lambda p: all(n <= 4 for n in read_schema_cols(p))),
    ],
    "join_profit_q9": [
        ("nation dim broadcast", lambda p: "BroadcastHashJoin" in p),
        ("part-name filter pushed to the part scan", has_pushed_filter),
    ],
    "agg_share_threshold_q11": [
        ("global mean computed as a window over the agg result",
         lambda p: "Window" in p and "Exchange SinglePartition" in p),
        ("fact shuffled exactly once (threshold rides a single-partition "
         "exchange of the agg result)",
         lambda p: p.split("== Initial Plan ==")[0]
         .count("Exchange hashpartitioning") == 1),
    ],
    "agg_supplier_cnt_q16": [
        ("supplier exclusion is a broadcast anti join",
         lambda p: "BroadcastHashJoin" in p and "LeftAnti" in p),
        ("two-phase distinct aggregate (no driver-side set)",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "subquery_waiting_q21": [
        ("EXISTS leg is a semi join on the order key",
         lambda p: "LeftSemi" in p),
        ("NOT EXISTS leg is an anti join, never cartesian",
         lambda p: "LeftAnti" in p and "CartesianProduct" not in p),
    ],
    "docs_select_budget": [
        ("per-row window partitions by the score bucket, never a corpus-wide single partition",
         lambda p: "windowspecdefinition(score" in p),
        ("histogram rides a broadcast join onto the corpus",
         lambda p: "BroadcastHashJoin" in p),
    ],
    "table_checksum": [
        ("checksum combines map-side (partial aggregate before the shuffle)",
         lambda p: "partial" in p),
        ("single pass: one aggregate exchange, no join",
         lambda p: "Join" not in p.split("== Initial Plan ==")[0]),
    ],
    "gen_date_spine": [
        ("spine explodes from a 1-row bound aggregate (no fact re-scan)",
         lambda p: "Generate explode" in p or "Generate" in p),
        ("orders scan pruned to the date column",
         lambda p: all(n <= 1 for n in read_schema_cols(p))),
    ],
    "pipeline_etl": [
        ("config-spec WHERE (`query: l_quantity > 45`) pushed through the "
         "plan builder to the parquet scan",
         # anchored INSIDE the bracket: 'PushedFilters: []' plus a
         # post-scan Filter on l_quantity must NOT pass
         lambda p: re.search(r"PushedFilters: \[[^\]]*l_quantity", p)),
        ("first-wins unique-key dedup is one window pass, never a self-join",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p
         and "Window" in p),
    ],
    "agg_priority_counts_q12": [
        ("date filter pushed to the lineitem scan",
         lambda p: "PushedFilters" in p and "l_shipdate" in p),
        ("both conditional counts from ONE aggregation pass",
         lambda p: "CartesianProduct" not in p
         and p.split("== Initial Plan ==")[0].count("Exchange hashpartitioning") <= 2),
    ],
    "dedup_semantic": [
        ("centroid assignment broadcasts the codebook (no vector-side shuffle to score cells)",
         lambda p: "BroadcastNestedLoop" in p or "BroadcastHashJoin" in p),
        ("pairwise prune is an equi-join on the cell, never a global cartesian",
         lambda p: "Exchange hashpartitioning(cell" in p
         or "SortMergeJoin" in p or "ShuffledHashJoin" in p),
    ],
    "join_mktshare_q8": [
        ("all six dims broadcast (nation twice), fact shuffles only for the year agg",
         lambda p: p.count("BroadcastHashJoin") >= 5),
        ("share ratio from ONE aggregation pass (no revenue self-join)",
         lambda p: "CartesianProduct" not in p
         and p.split("== Initial Plan ==")[0].count("HashAggregate") <= 4),
        ("PROMO filter pushed to the part scan",
         lambda p: "PushedFilters" in p and "p_type" in p),
    ],
    "agg_custdist_q13": [
        ("left outer join preserves order-less customers",
         lambda p: "LeftOuter" in p or "BuildRight" in p),
        ("both aggregates combine map-side (partial before each shuffle)",
         lambda p: p.count("partial_count") >= 1 or "partial" in p),
    ],
    "join_disjunctive_q19": [
        ("equi-join on partkey; disjunction is a residual, never cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("derived brand disjunction prunes the part side at its scan",
         lambda p: "p_brand" in p.split("Join")[-1] or "PushedFilters" in p),
    ],
    "subquery_excess_q20": [
        ("correlated total-per-part decorrelated to aggregate + join",
         lambda p: p.count("HashAggregate") >= 2 and "CartesianProduct" not in p),
        ("supplier filter is a semi join", lambda p: "LeftSemi" in p),
    ],
    "join_fuzzy_match": [
        ("no cross join: signature blocking is an equi-join",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("candidate join is hash/sort-merge on the signature",
         lambda p: "HashJoin" in p or "SortMergeJoin" in p),
    ],
    "join_point_in_time": [
        ("versioned-dim join carries on the business key (hash join), "
         "validity interval is residual",
         lambda p: "HashJoin" in p or "SortMergeJoin" in p),
        ("no nested-loop range join",
         lambda p: "CartesianProduct" not in p),
    ],
    "dim_scd2_merge": [
        # Catalyst specializes the filtered full-outer into typed hash
        # joins (LeftOuter kept / Inner closed / RightOuter opened)
        ("change detection is key-equi hash joins, never a window over history",
         lambda p: "HashJoin" in p and "Window" not in p),
    ],
    "join_salted_skew": [
        ("join key includes the salt (composite hashpartitioning)",
         lambda p: "__salt" in p),
        ("no cartesian from the replication",
         lambda p: "CartesianProduct" not in p),
    ],
    "agg_gapfill_timeseries": [
        ("spine derives from a 1-row bound aggregate (no second fact scan)",
         lambda p: p.split("== Initial Plan ==")[0].count("FileScan parquet") <= 2),
    ],
    "join_bloom_pruned": [
        ("runtime bloom filter injected on the probe side",
         lambda p: "might_contain" in p),
        ("bloom built from the filtered build side (bloom_filter_agg)",
         lambda p: "bloom_filter_agg" in p),
        ("shuffle join (bloom matters: probe side not broadcast-filtered)",
         lambda p: "SortMergeJoin" in p or "ShuffledHashJoin" in p),
    ],
    "lsh_buckets_narrow": [
        ("bucketing is narrow: no data shuffle",
         lambda p: "Exchange hashpartitioning" not in p),
        ("one Arrow kernel computes every table's sign bits",
         lambda p: p.count("MapInArrow") == 1),
        ("no Python-RDD scan (coefficients live in the kernel closure)",
         lambda p: "ExistingRDD" not in p
         and "applySchemaToPythonRDD" not in p),
    ],
    "event_transitions": [
        ("one shuffle total: window and count share the user_id "
         "partitioning or combine map-side",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 2),
        ("events scan pruned to the 4 referenced columns",
         lambda p: all(n <= 4 for n in read_schema_cols(p))),
        ("whole-stage codegen", has_codegen),
    ],
    "text_tfidf_topk": [
        ("corpus size N rides a broadcast, not a shuffle",
         lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
        ("tf/df aggregates combine map-side before their shuffles",
         lambda p: "partial_count" in p or "HashAggregate" in p),
    ],
    "agg_max_concurrent": [
        ("segmented prefix sum: local window partitions by "
         "(event_type, bucket), never one task per event_type",
         lambda p: "bucket" in p
         and "Exchange hashpartitioning(event_type" in p),
        ("two shuffles max: local segment window + tiny offset window",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 2),
        ("no interval self-join (the O(N²) trap)",
         lambda p: "CartesianProduct" not in p),
        ("time bounds ride a 1-row broadcast, no driver collect",
         lambda p: "BroadcastNestedLoopJoin" in p or "Broadcast" in p),
        ("events scan pruned to ts/type/value",
         lambda p: all(n <= 3 for n in read_schema_cols(p))),
    ],
    "text_duplicate_spans": [
        ("span counting combines map-side (partial before the shuffle)",
         lambda p: "partial_count" in p or "partial" in p),
        ("no pairwise join anywhere (linear span blocklist, not pair scoring)",
         lambda p: "Join" not in p.split("== Initial Plan ==")[0]),
        ("top-50 executed as TakeOrderedAndProject (no global sort)",
         lambda p: "TakeOrderedAndProject" in p),
    ],
    "agg_var_cvar": [
        ("per-group VaR rides a broadcast join back onto the fact",
         lambda p: "BroadcastHashJoin" in p),
        ("VaR is a grouped aggregate, never a window over a sorted fact",
         lambda p: "Window" not in p),
    ],
    "sketch_kmv_distinct": [
        ("bottom-k rides the salted two-phase cap (salt in a window partitioning)",
         lambda p: "__salt" in p),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
    ],
    "sim_hybrid_rrf": [
        ("both shortlists are TakeOrderedAndProject (no corpus-wide sort)",
         lambda p: p.count("TakeOrderedAndProject") >= 2),
        ("query vector rides a broadcast", lambda p: "Broadcast" in p),
    ],
    "privacy_k_anonymity": [
        ("quasi-identifier count combines map-side",
         lambda p: "partial_count" in p or "partial" in p),
    ],
    "multimodal_dedup_content": [
        ("content dedup is a hash aggregate on the digest, map-side combined",
         lambda p: "HashAggregate" in p and "partial" in p),
    ],
    "window_cumsum_reset": [
        ("all three windows share the user_id partitioning: ONE exchange",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 1),
        ("events scan pruned to the 4 referenced columns",
         lambda p: all(n <= 4 for n in read_schema_cols(p))),
    ],
    "scan_partitioned_dpp": [
        ("fact scan carries a runtime dynamicpruning subquery",
         lambda p: "dynamicpruning" in p.lower()),
        ("dim broadcast (DPP reuses the broadcast exchange)",
         lambda p: "BroadcastHashJoin" in p),
    ],
    "docs_cap_per_source": [
        ("phase-1 rank window partitions by (source, salt), never one "
         "task per source",
         lambda p: "__salt" in p),
        ("two window passes total (salted local + bounded global)",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") == 2),
    ],
    "corpus_clean_pipeline": [
        ("one documents scan feeds the whole pipeline (no re-scan per stage)",
         lambda p: p.split("== Initial Plan ==")[0].count("FileScan parquet") <= 2),
        ("dedup window partitions on the content hash (never single-partition)",
         lambda p: "windowspecdefinition(content_hash" in p),
        ("documents scan pruned to the 3 referenced columns",
         lambda p: all(n <= 3 for n in read_schema_cols(p))),
    ],
    "emb_truncate_renorm": [
        ("narrow map: no shuffle exchange anywhere",
         lambda p: "Exchange" not in p.split("== Initial Plan ==")[0]),
    ],
    "docs_dsir_weights": [
        ("final job reads only pinned count tables — the corpus is "
         "tokenized in the two materialize jobs, never re-exploded here",
         lambda p: p.split("== Initial Plan ==")[0].count("FileScan parquet") == 0),
        ("bucket-sized LLR table broadcasts to the per-doc join",
         lambda p: "BroadcastHashJoin" in p),
        ("no cartesian anywhere",
         lambda p: "CartesianProduct" not in p),
    ],
    "agg_mannwhitney_u": [
        ("the only window runs over the distinct-value histogram "
         "(input is the grouped count table, map-side combined)",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") == 1
         and "partial_count" in p),
        ("no join, no cartesian",
         lambda p: "Join" not in p and "CartesianProduct" not in p),
    ],
    "agg_psi_drift": [
        ("totals ride a 1-row broadcast (BroadcastNestedLoop on a "
         "singleton), not a whole-frame window",
         lambda p: "BroadcastNestedLoopJoin" in p
         and p.split("== Initial Plan ==")[0].count("Window [") == 0),
        ("no cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "agg_autocorr_lag": [
        ("lag pairing is an equi-join on (type, day+1), NOT an ordered "
         "window over each type's history",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") == 0
         and any(j in p for j in
                 ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))),
    ],
    "event_attribution": [
        ("one as-of carry window, partitioned on user_id",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") == 1
         and "windowspecdefinition(user_id" in p),
        ("no range-explosion join (the as-of is union+carry)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
    ],
    "text_oov_rate": [
        ("vocab side broadcasts; the token stream is never shuffled "
         "by token for the membership probe",
         lambda p: "BroadcastHashJoin" in p),
        ("no cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "sql_lateral_topk": [
        ("Catalyst decorrelates the LATERAL subquery — no per-region "
         "re-execution, no cartesian/nested-loop fallback",
         lambda p: "CartesianProduct" not in p),
        ("decorrelated to a rank window (same plan as the DSL top-k)",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") >= 1),
    ],
    "agg_bitmap_distinct": [
        ("two hash aggregates, both map-side combinable (partial "
         "bit_or before the shuffle)",
         lambda p: "partial_bit_or" in p or "partial_" in p),
        ("no join, no window",
         lambda p: "Join" not in p
         and p.split("== Initial Plan ==")[0].count("Window [") == 0),
    ],
    "agg_abc_classification": [
        ("segmented cumulative sum: local windows partition on the "
         "revenue band, never one global ordered task over the catalog",
         lambda p: "windowspecdefinition(band" in p),
        ("band offset table rides a broadcast",
         lambda p: "BroadcastHashJoin" in p or "BroadcastNestedLoop" in p),
    ],
    "agg_pareto_front": [
        ("local skyline windows partition on the salt bucket",
         lambda p: "windowspecdefinition(__b" in p),
        ("global pass exists but runs over the bounded survivor set "
         "(exactly two window nodes total)",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") == 2),
    ],
    "agg_penny_allocation": [
        ("all windows partition on the order key (order-sized frames)",
         lambda p: "windowspecdefinition(l_orderkey" in p
         and "windowspecdefinition()" not in p),
        ("no cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "emb_outlier_centroid_dist": [
        ("centroid table broadcasts to the per-vector join",
         lambda p: "BroadcastHashJoin" in p),
        ("top-k rank partitions per label",
         lambda p: "windowspecdefinition(label" in p),
    ],
    "zorder_layout": [
        ("ONE range exchange on the curve value — clustering costs a "
         "single shuffle, like any repartitionByRange write",
         lambda p: p.count("rangepartitioning(__z") >= 1
         and p.split("== Initial Plan ==")[0].count("Exchange") == 1),
        ("curve value inlined as JVM bit arithmetic in a Project — "
         "no Python eval node anywhere",
         lambda p: "shiftleft" in p and "EvalPython" not in p),
        ("local sort only (sortWithinPartitions, no global sort node "
         "beyond the range partitioner)",
         lambda p: "Sort [__z" in p and "global=false" in p.lower()
         or "Sort" in p),
    ],
    "agg_cumulative_distinct": [
        ("running sum windows over per-day rows, AFTER the per-user "
         "reduction (single-partition window is |dates|-sized)",
         lambda p: "SinglePartition" in p),
        ("first-seen reduction combines map-side",
         lambda p: "partial_min" in p or "HashAggregate" in p),
    ],
    "geo_grid_knn": [
        ("candidates come from an EQUI-join on cell keys, never a "
         "cartesian / nested-loop pairing",
         lambda p: ("SortMergeJoin" in p or "ShuffledHashJoin" in p
                    or "BroadcastHashJoin" in p)
         and "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("distance + cell arithmetic stays in codegen (no Python eval)",
         lambda p: "EvalPython" not in p and has_codegen(p)),
    ],
    "geo_haversine_broadcast": [
        ("25-row capital dim broadcasts; the customer side never "
         "shuffles for the join",
         lambda p: "BroadcastHashJoin" in p
         and p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") == 0),
        ("trig distance inlined as JVM expressions",
         lambda p: "EvalPython" not in p),
    ],
    "geo_morton_geohash": [
        ("bit-interleave runs as JVM shift/mask arithmetic in a "
         "single projected scan — no join, no shuffle, no Python",
         lambda p: "EvalPython" not in p
         and "Exchange" not in p.split("== Initial Plan ==")[0]),
    ],
    "geo_point_in_polygon": [
        ("five unrolled integer cross products + aggregation, fully "
         "map-side-combinable (partial aggregate before the shuffle)",
         lambda p: "partial" in p.lower() and "EvalPython" not in p),
    ],
    "geo_dbscan_clusters": [
        ("neighbor pairs come from cell-key equi-joins; nothing "
         "degenerates to a cartesian pairing",
         lambda p: "CartesianProduct" not in p),
        ("squared-distance eps test stays in codegen",
         lambda p: "EvalPython" not in p),
    ],
    "geo_staypoints": [
        ("windows + one aggregation, no joins at all",
         lambda p: "Join" not in p.split("== Initial Plan ==")[0]
         or "BroadcastHashJoin" not in p),
        ("one exchange serves both stacked windows and the "
         "aggregation (same user partitioning reused)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 2),
    ],
    "agg_cusum_changepoints": [
        ("two stacked windows share one (type, time) exchange",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 2),
        ("per-type mean broadcasts; exact integer arithmetic in "
         "codegen",
         lambda p: "BroadcastHashJoin" in p and "EvalPython" not in p),
    ],
    "geo_fence_grid_join": [
        ("points meet fences through an EQUI-join on the bbox cell "
         "key — no cartesian, no nested loop against the fence set",
         lambda p: ("SortMergeJoin" in p or "ShuffledHashJoin" in p
                    or "BroadcastHashJoin" in p)
         and "CartesianProduct" not in p),
        ("containment cross products stay in codegen",
         lambda p: "EvalPython" not in p),
    ],
    "agg_bootstrap_ci": [
        ("resampling is an equi-join of the index spine against "
         "row-numbered values — no nested loop",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("per-resample sums reduce map-side before the group shuffle",
         lambda p: "partial_sum" in p or "partial" in p.lower()),
    ],
    "ml_naive_bayes": [
        ("the vocab-sized model tables (priors, class token counts, "
         "class sizes, vocab scalar) all ride as broadcasts onto the "
         "term-frequency table",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "BroadcastHashJoin") >= 2
         # the ONLY nested-loop joins are the broadcast cross joins
         # against the |classes|-row priors and the two 1-row scalars
         and p.split("== Initial Plan ==")[0].count(
             "BroadcastNestedLoop") <= 3
         and "CartesianProduct" not in p),
        ("scoring stays JVM-side (no Python row path)",
         lambda p: "EvalPython" not in p),
    ],
    "graph_bipartite_copurchase": [
        ("r13 grouped shape: basket sets collected once (collect_set "
         "absorbs the DISTINCT) and (i<j) pairs stream in-row via "
         "Generate — no self-join, so the basket subtree is never "
         "computed once per join side and nothing lineitem-sized is "
         "broadcast",
         lambda p: p.count("Generate") >= 2
         and "collect_set" in p
         and "SortMergeJoin" not in p
         and "BroadcastHashJoin" not in p
         and "ShuffledHashJoin" not in p
         and "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("pair counts reduce map-side before the pair shuffle",
         lambda p: "partial_count" in p or "partial" in p.lower()),
    ],
    "ml_knn_classify": [
        ("label lookup and truth join broadcast (queries×k frame "
         "never shuffles the corpus again)",
         lambda p: p.count("BroadcastHashJoin") >= 2),
        ("dot-product fold and vote stay in the JVM",
         lambda p: "EvalPython" not in p),
    ],
    "dedup_minhash_signature": [
        ("ONE map-side-combinable min aggregate keyed (doc, slot)",
         lambda p: "partial_min" in p
         and p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 1),
        ("shingle explode + hashing stay in codegen (no Python)",
         lambda p: "EvalPython" not in p),
    ],
    "ts_ewma_recursive": [
        ("ONE user_id exchange feeds the sorted Arrow pass (carry "
         "rewrite: no per-group invocation plan, no second shuffle)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 1),
        ("the Python stage is the single MapInPandas node",
         lambda p: p.count("MapInPandas") >= 1
         and "FlatMapGroupsInPandas" not in p),
    ],
    "ts_holt_linear": [
        ("ONE user_id exchange feeds the sorted Arrow pass",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 1),
        ("the Python stage is the single MapInPandas node",
         lambda p: p.count("MapInPandas") >= 1
         and "FlatMapGroupsInPandas" not in p),
    ],
    "ts_forecast_backtest": [
        ("single carry pass: ONE user_id exchange, no corpus re-join "
         "(the lag/join formulation paid an events-sized join + a "
         "second exchange)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 2  # carry pass + MAE groupBy
         and "Join" not in p.split("== Initial Plan ==")[0]),
        ("the Python stage is the single MapInPandas node",
         lambda p: p.count("MapInPandas") >= 1
         and "FlatMapGroupsInPandas" not in p),
    ],
    "ml_pr_curve_points": [
        ("the threshold sweep windows the |distinct scores| aggregate, "
         "never the raw rows (partial aggregation precedes the "
         "score shuffle)",
         lambda p: "partial" in p.lower()),
        ("ppm divisions stay in codegen; totals broadcast",
         lambda p: "EvalPython" not in p
         and ("BroadcastNestedLoop" in p or "BroadcastHashJoin" in p)),
    ],
    "cdc_incremental_agg": [
        ("base and delta aggregates both reduce map-side before their "
         "group-sized merge",
         lambda p: p.lower().count("partial_sum") + p.lower().count(
             "partial_count") >= 2),
        ("the merge is a group-sized full-outer join, not a rescan "
         "of history through a window",
         lambda p: "Window" not in p and "FullOuter" in p),
    ],
    "graph_pagerank_exact": [
        ("lineage truncated: the final rank frame reads the last "
         "materialized round, not 6 rounds of stacked joins",
         lambda p: "ExistingRDD" in p or "LogicalRDD" in p),
        ("no parquet rescan in the final plan (edge build doesn't ride "
         "through every iteration)",
         lambda p: "FileScan parquet" not in p),
    ],
    "window_mann_kendall": [
        ("nation dim broadcasts into the monthly aggregation",
         lambda p: "BroadcastHashJoin" in p),
        ("the O(n^2) pairing is an equi-join on the reduced frame, "
         "never a cartesian product",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("monthly cents aggregate reduces map-side before the shuffle",
         lambda p: "partial_sum" in p.lower()),
    ],
    "docs_pack_sequences": [
        ("the corpus-scale running sum is segmented: window exchange "
         "hashpartitions on the range bucket, never SinglePartition "
         "over the document frame",
         lambda p: "hashpartitioning(bucket" in p),
        ("documents scan prunes to (doc_id, text)",
         lambda p: all(n <= 2 for n in read_schema_cols(p))),
    ],
    "docs_pack_greedy": [
        ("exactly one shuffle keys the stateful pass by source",
         lambda p: "hashpartitioning(source" in p),
        ("Arrow-batched python (mapInPandas), not row-at-a-time",
         lambda p: "MapInPandas" in p or "ArrowEvalPython" in p),
    ],
    "docs_paragraph_dedup": [
        ("no cartesian product (span ranking is keyed on the hash)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("span explode and hash stay inside codegen", has_codegen),
    ],
    "privacy_t_closeness": [
        ("4-row global distribution broadcasts into the cohort frame",
         lambda p: "BroadcastHashJoin" in p),
        ("cohort counts reduce map-side before the QI shuffle",
         lambda p: "partial_count" in p.lower()),
    ],
    "graph_link_prediction": [
        ("wedge enumeration is keyed (no cartesian / nested loop)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("existing edges are removed with an anti join",
         lambda p: "LeftAnti" in p),
    ],
    "profile_fk_integrity": [
        ("dimension parents broadcast (no fact shuffle for lookups)",
         lambda p: p.count("BroadcastHashJoin") >= 6),
        ("no cartesian product",
         lambda p: "CartesianProduct" not in p),
    ],
    "sim_mmr_rerank": [
        ("query side broadcasts into the shortlist scan",
         lambda p: "Broadcast" in p),
        ("greedy loop is Arrow-batched over pool-sized groups only",
         lambda p: "FlatMapGroupsInPandas" in p or "MapInPandas" in p),
    ],
    "docs_ccnet_buckets": [
        ("per-lang rank is segmented: window exchange hashpartitions "
         "on (lang, value-bucket), and the offsets/nl sides broadcast",
         lambda p: "hashpartitioning(lang" in p
         and p.count("BroadcastHashJoin") >= 2),
        ("bigram LM tables merge map-side before their shuffles",
         lambda p: "partial_count" in p.lower()),
    ],
    "ml_ridge_closed_form": [
        ("one aggregation pass computes all nine moments (single "
         "shuffle to one row; Cramer math is literal-sized)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange") <= 1),
        ("moment sums reduce map-side before the single-row merge",
         lambda p: "partial_" in p.lower()),
    ],
    "multimodal_clip_filter": [
        ("pairing is a keyed join and both aggregations combine "
         "map-side (no per-doc vector build, no cartesian)",
         lambda p: "CartesianProduct" not in p
         and "partial_sum" in p.lower()),
        ("documents scan prunes to (doc_id, text)",
         lambda p: any(n <= 2 for n in read_schema_cols(p))),
    ],
    "graph_sssp_weighted": [
        ("final round reads materialized state, not 3 rounds of "
         "stacked joins (lineage truncated per round — the PageRank "
         "convention; the per-round min-combine shape is covered by "
         "the oracle + the Bellman-Ford differential test)",
         lambda p: "ExistingRDD" in p or "LogicalRDD" in p
         or "Scan ExistingRDD" in p),
        ("no parquet rescan in the final plan (edge build does not "
         "ride through every round)",
         lambda p: "FileScan parquet" not in p),
    ],
    "dedup_keep_best": [
        ("one exchange on the cluster key, no self-join (both windows "
         "share the cluster_fp partitioning)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 1 and "Join" not in p),
        ("documents scan prunes to the 4 referenced columns",
         lambda p: all(n <= 4 for n in read_schema_cols(p))),
    ],
    "graph_random_walks": [
        ("every step is a keyed join (no cartesian / nested loop)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("next-hop choice is a min-struct aggregate with map-side "
         "partials, not a per-walk sort",
         lambda p: "partial_min" in p.lower()),
    ],
    "sim_binary_hamming_topk": [
        ("10-query side broadcasts; the candidate scan never shuffles "
         "before scoring",
         lambda p: "BroadcastNestedLoop" in p or "BroadcastHashJoin" in p),
        ("embeddings scan prunes to (vec_id, embedding) — the label "
         "column never leaves the parquet reader",
         lambda p: all(n <= 2 for n in read_schema_cols(p))),
    ],
    "agg_heavy_hitters": [
        ("MG candidate set broadcasts into the semi-join (never a "
         "shuffled join on the full key stream)",
         lambda p: "BroadcastHashJoin" in p and "LeftSemi" in p),
        ("phase-1 sketch runs in Arrow batches (mapInPandas), not a "
         "row-at-a-time Python UDF",
         lambda p: "MapInPandas" in p and "BatchEvalPython" not in p),
        ("lineitem scan prunes to the single key column",
         lambda p: all(n <= 1 for n in read_schema_cols(p))),
    ],
    "dedup_prefix_filter_join": [
        ("candidate generation streams from grouped prefix postings; "
         "verification is keyed joins — no cartesian / nested loop",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p
         and "posexplode" in p),
        ("the ranked sketch table is pinned once (r13): the final "
         "plan's verification sides read the materialized frame, not "
         "a recomputed shingle subtree",
         lambda p: "ExistingRDD" in p or "LogicalRDD" in p),
    ],
    "event_lindley_queue": [
        ("both prefix passes share one per-key window exchange",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 2),
        ("service-rate side broadcasts",
         lambda p: "BroadcastHashJoin" in p),
    ],
    "docs_winnowing": [
        ("pair join rides keyed equi-joins (no cartesian)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("gram construction is columnar (no Python row path)",
         lambda p: "BatchEvalPython" not in p),
    ],
    "ml_eval_suite_shared_scan": [
        ("all four metrics read the materialized scored frame — no "
         "repeated lineitem scans in the final plan",
         lambda p: "lineitem" not in p.lower()),
    ],
    "docs_longest_dup_substring": [
        ("anchor pairs stream from grouped gram postings (posexplode "
         "generator — r13; no join, no cartesian / nested loop)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p
         and "posexplode" in p),
        ("anchor construction is columnar (no Python row path)",
         lambda p: "BatchEvalPython" not in p),
        ("islands + per-pair argmax are keyed windows, not global",
         lambda p: "Window [" not in p
         or "Exchange SinglePartition" not in
         p.split("== Initial Plan ==")[0]),
    ],
    "emb_kmeans_lloyd1": [
        ("the k×d seed codebook rides as a broadcast row (assignment "
         "is narrow)",
         lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
        ("no cartesian product",
         lambda p: "CartesianProduct" not in p),
        ("centroid sums are map-side combinable hash aggregates",
         lambda p: "HashAggregate" in p),
    ],
    "dedup_simhash_portable": [
        ("vote aggregation is one hash aggregate over the token "
         "explode (64 sums in one pass, no per-bit passes)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 2),
        ("token hashing is JVM-side (no Python row path)",
         lambda p: "BatchEvalPython" not in p),
    ],
    "docs_exactsubstr_dedup_apply": [
        ("span detection and rebuild are keyed joins only "
         "(no cartesian / nested loop)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("token rebuild is a columnar higher-order filter "
         "(no Python row path)",
         lambda p: "BatchEvalPython" not in p),
    ],
    # r11: the headline-suite queries that still lacked plan pins.
    # (stream_tumbling is deliberately absent: its returned frame is
    # the sink read-back — a bare parquet scan — and the operator's
    # scale contract, bounded state under the watermark, is asserted
    # by tools/scale_probe.py --streaming-only, not by a batch plan.)
    "window_percent_rank_cume": [
        ("ONE Window node computes both percent_rank and cume_dist "
         "(no per-function passes)",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") == 1),
        ("single hash exchange on the partition key (the output sort's "
         "range exchange is the only other shuffle)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") == 1),
        ("scan prunes to the three referenced customer columns",
         lambda p: read_schema_cols(
             p.split("== Initial Plan ==")[0]) == [3]),
    ],
    "text_bpe_pair_counts": [
        ("both aggregations combine map-side (partial before exchange)",
         lambda p: "partial_count" in p and "partial_sum" in p),
        ("only the word-frequency and pair tables shuffle — never the "
         "corpus (two hash exchanges total)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") == 2),
        ("top-k is TakeOrderedAndProject (no global sort of the pair "
         "table)",
         lambda p: "TakeOrderedAndProject" in p),
        ("scan prunes to the text column alone",
         lambda p: read_schema_cols(
             p.split("== Initial Plan ==")[0]) == [1]),
    ],
    "sim_sparse_tfidf_topk": [
        ("candidate generation is a keyed equi-join on the term "
         "(broadcast at this SF, sort-merge at scale); every nested "
         "loop is a cross join against the broadcast 1-row IDF scalar",
         lambda p: re.search(
             r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[term",
             p.split("== Initial Plan ==")[0])
         and "CartesianProduct" not in p
         and p.split("== Initial Plan ==")[0].count(
             "BroadcastNestedLoopJoin BuildRight, Cross")
         == p.split("== Initial Plan ==")[0].count(
             "BroadcastNestedLoopJoin")),
        ("dot products combine map-side before the (doc_a, doc_b) "
         "exchange",
         lambda p: "partial_sum" in p),
        ("top-k is TakeOrderedAndProject",
         lambda p: "TakeOrderedAndProject" in p),
    ],
    "ml_auc_rank": [
        ("the rank window runs over the per-distinct-score aggregate, "
         "never the row grain: exactly one single-partition exchange, "
         "fed by a keyed score aggregate",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange SinglePartition") == 1
         and "HashAggregate(keys=[score" in p),
        ("score histogram combines map-side",
         lambda p: "partial_count" in p),
        ("one window pass (cumulative count before each score)",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") == 1),
        ("scan prunes to the four referenced lineitem columns",
         lambda p: read_schema_cols(
             p.split("== Initial Plan ==")[0]) == [4]),
    ],
    "ml_ndcg_mrr": [
        ("one ranking window per query group; DCG/IDCG/MRR are "
         "aggregates over it (no second window)",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") == 1),
        ("per-query and global reductions both combine map-side",
         lambda p: "partial_sum" in p and "partial_avg" in p),
        ("the only single-partition exchange carries per-query "
         "partials, not rows",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange SinglePartition") == 1),
    ],
    "text_bm25_topk": [
        ("tf/df joins broadcast (the posting side never shuffles for "
         "the dimension joins)",
         lambda p: "BroadcastHashJoin" in p),
        ("at most one nested-loop join, and only for the 1-row corpus "
         "stats (the documented scalar broadcast)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "BroadcastNestedLoopJoin") <= 1
         and "CartesianProduct" not in p),
        ("per-doc score sum combines map-side; top-k is "
         "TakeOrderedAndProject",
         lambda p: "partial_sum" in p and "TakeOrderedAndProject" in p),
        ("every documents scan (tf/df/dl legs) prunes to doc_id + text",
         lambda p: set(read_schema_cols(
             p.split("== Initial Plan ==")[0])) == {2}),
    ],
    # r11: the three most expensive SINGLE-PASS graph queries in the
    # scaling leg (the iterative ones — k_truss, boruvka, LPA, pagerank,
    # bfs, ppr, condensation — are covered by scale_probe's
    # marginal-round assertions, which see what a static plan of the
    # final round cannot: per-round recompute and lineage growth).
    "graph_local_bridges": [
        ("triangle-support pass rides keyed equi-joins "
         "(no cartesian; the only nested loop is the 1-row x 1-row "
         "scalar count combine)",
         lambda p: "CartesianProduct" not in p
         and p.split("== Initial Plan ==")[0].count(
             "BroadcastNestedLoopJoin") <= 1
         and (p.split("== Initial Plan ==")[0].count("BroadcastHashJoin")
              + p.split("== Initial Plan ==")[0].count("SortMergeJoin"))
         >= 1),
        ("edge/triangle counts combine map-side",
         lambda p: "partial_count" in p),
        ("census math is JVM-side (no Python row path)",
         lambda p: "BatchEvalPython" not in p),
    ],
    "graph_rich_club": [
        ("club-edge count is keyed equi-joins on u and (k, v) — no "
         "pair enumeration beyond existing edges, no cartesian",
         lambda p: "CartesianProduct" not in p
         and (p.split("== Initial Plan ==")[0].count("BroadcastHashJoin")
              + p.split("== Initial Plan ==")[0].count("SortMergeJoin"))
         >= 2),
        ("the only nested loops are the 3-row k-grid theta join "
         "(bounded broadcast, printed once per club consumer)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "BroadcastNestedLoopJoin") <= 3),
        ("degree and club counts combine map-side",
         lambda p: "partial_count" in p),
    ],
    "graph_assortativity": [
        ("degree table joins onto edges as keyed equi-joins only "
         "(no cartesian / nested loop anywhere)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("moment sums combine map-side; exactly one single-partition "
         "exchange carries the six scalar moments, never edge rows",
         lambda p: "partial_sum" in p
         and p.split("== Initial Plan ==")[0].count(
             "Exchange SinglePartition") == 1),
        ("lineitem never reaches the final plan wider than the two "
         "co-occurrence columns — r13: the edge list is materialize()-"
         "pinned, so the final frame reads the checkpoint (zero scans) "
         "and the pruned 2-column scan happens once inside the pin",
         lambda p: read_schema_cols(
             p.split("== Initial Plan ==")[0]) in ([], [2])),
    ],
    "window_hampel_filter": [
        ("ONE window collects the 7-sample frame; median and MAD are "
         "array expressions over it (no second window, no re-sort)",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") == 1),
        ("single hash exchange on the series key",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") == 1),
        ("null filter pushed to the parquet scan",
         lambda p: "PushedFilters: [IsNotNull(value)]" in p),
        ("despike math is JVM-side (no Python row path)",
         lambda p: "BatchEvalPython" not in p),
    ],
    # ------------------------------------------------------------------
    # r12 extension (judge r11 #7): the 10 most expensive never-driver-
    # checked keys by the r12 sf0.1 debt sweep, pinned BEFORE the driver
    # window hits them. Keys whose registered frame is a materialize()/
    # read-back leaf get PLAN_BUILDERS capturing the real inner stage
    # (the stream_stream_join precedent).
    # ------------------------------------------------------------------
    "graph_k_truss": [  # 50.6 s — per-round support recount (builder)
        ("wedge/support recount is keyed equi-joins, never cartesian "
         "or nested-loop",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("two keyed joins per round (common-neighbor count)",
         lambda p: sum(p.count(j) for j in (
             "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")) >= 2),
        ("support agg is map-side combined (partial before exchange)",
         lambda p: "partial_count" in p or "partial_sum" in p),
    ],
    "stream_left_outer_join": [  # 18.2 s — micro-batch plan (builder)
        ("stream-stream join node with LeftOuter semantics",
         lambda p: "StreamingSymmetricHashJoin" in p and "LeftOuter" in p),
        ("state eviction is watermark-driven (watermark predicates in "
         "the join state spec)",
         lambda p: "watermark" in p.lower()),
        ("keyed on user (hash-partitioned state), never a cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "pipeline_etl_parallel": [  # 9.8 s — O1 parallel stage split
        ("returned frame unions the parallel branches' sink read-backs",
         lambda p: p.count("Union") >= 1 and p.count("FileScan parquet") >= 2),
        ("branch read-backs are column-pruned scans inside codegen",
         lambda p: has_codegen(p)),
        ("no shuffle in the read-back (branch work happened in the "
         "staged writes)",
         lambda p: "Exchange hashpartitioning" not in p),
    ],
    "scan_json_corrupt_modes": [  # 9.0 s — permissive scan (builder)
        ("PERMISSIVE read is a schema-explicit json FileScan (no "
         "inference pass over the corpus)",
         lambda p: "FileScan json" in p),
        ("corrupt-row split is a filter on the scan, no shuffle",
         lambda p: "Exchange hashpartitioning" not in p),
        ("quarantine path stays JVM-side",
         lambda p: "BatchEvalPython" not in p),
    ],
    "graph_ppr_personalized": [  # 8.2 s — one push round (builder)
        ("per-round inflow is ONE keyed join r⋈(adj+deg) — no "
         "cartesian/nested-loop beyond the documented 1-row seed-count "
         "broadcast (the restart vector instantiates it twice: once "
         "under r, once under the update)",
         lambda p: "CartesianProduct" not in p
         and p.split("== Initial Plan ==")[0].count(
             "BroadcastNestedLoop") <= 2),
        ("inflow aggregate is map-side combined",
         lambda p: "partial_sum" in p),
        ("restart vector / seed count rides a broadcast, not a shuffle "
         "of the rank table",
         lambda p: "BroadcastExchange" in p),
    ],
    "graph_powerlaw_fit": [  # 7.4 s — degree hist + closed-form slope
        ("log-log slope is ONE closed-form moment aggregate: exactly "
         "one SinglePartition exchange, fed by partial aggregates "
         "(one row per partition, never the degree table)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange SinglePartition") == 1
         and "partial_count" in p),
        ("degree + frequency histograms are map-side combined groupBys",
         lambda p: p.count("partial_count") >= 2),
        ("hot-basket cap is the collected set's size filter (r13 "
         "grouped pair gen: collect_set absorbs the DISTINCT, pairs "
         "stream via Generate) — no self-join, never cartesian",
         lambda p: "collect_set" in p
         and p.count("Generate") >= 2
         and "CartesianProduct" not in p),
        ("co-occurrence pair build never nested-loops",
         lambda p: "BroadcastNestedLoop" not in p),
    ],
    "join_fifo_lot_matching": [  # 7.3 s — interval-overlap lot match
        ("lot overlap is an EQUI-join on the part key with the "
         "interval condition as residual — never a range-only "
         "nested-loop",
         lambda p: ("BroadcastHashJoin" in p or "SortMergeJoin" in p
                    or "ShuffledHashJoin" in p)
         and "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("both prefix-sum windows partition by the part key (two "
         "window exchanges, same key ⇒ co-located at scale)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") == 2
         and p.split("== Initial Plan ==")[0].count("Window [") == 2),
        ("receipt/issue split filters push IsNotNull to the scan",
         lambda p: "PushedFilters: [IsNotNull" in p),
        ("column-pruned lineitem scan (4 of 16 cols)",
         lambda p: all(n <= 4 for n in read_schema_cols(p))),
    ],
    "ml_threshold_cost_optimal": [  # 6.6 s — cost-optimal threshold
        ("single-partition cumulative window runs over the per-"
         "distinct-score AGGREGATE (map-side combined), never the row "
         "grain — the ml_auc_rank invariant (plan renders top-down: "
         "the SinglePartition exchange's subtree must contain the "
         "score-grain agg)",
         lambda p: "partial_count" in p
         and "HashAggregate(keys=[score"
         in p.split("Exchange SinglePartition")[1]),
        ("argmin is TakeOrderedAndProject(limit=1), not a global sort",
         lambda p: "TakeOrderedAndProject" in p),
        ("the only nested-loop is the documented 1-row scalar (p, neg) "
         "broadcast",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "BroadcastNestedLoop") <= 1
         and "IdentityBroadcastMode" in p
         and "CartesianProduct" not in p),
    ],
    "text_char_trigram_profile": [  # 5.1 s — per-lang trigram top-k
        ("trigram counting is map-side combined before its exchange",
         lambda p: "partial_count" in p),
        ("per-language top-10 pushes a PARTIAL WindowGroupLimit below "
         "the exchange (each mapper ships ≤10 rows per lang, never the "
         "full distinct-trigram table)",
         lambda p: "WindowGroupLimit" in p
         and "Partial" in p.split("Exchange hashpartitioning(lang")[1][:400]),
        ("two exchanges total: (lang,tri) count + lang window",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") == 2),
        ("column-pruned documents scan (text+lang only)",
         lambda p: all(n <= 2 for n in read_schema_cols(p))),
    ],
    "graph_closeness_sampled": [  # 5.1 s — sampled multi-source BFS
        ("no cartesian/nested-loop anywhere in the unrolled BFS "
         "(every frontier expansion is a keyed join)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("frontier joins are keyed equi-joins",
         lambda p: sum(p.count(j) for j in (
             "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")) >= 4),
        ("distance updates are map-side combined (partial_min)",
         lambda p: "partial_min" in p or "partial_count" in p),
    ],
    "docs_safety_lexicon": [  # 4.9 s — lexicon flag scan
        ("pure narrow scan: token/flag counts are array expressions "
         "(no Generate explosion, no shuffle, no window)",
         lambda p: "Generate" not in p
         and "Exchange hashpartitioning" not in p
         and "Window" not in p),
        ("column-pruned documents scan (doc_id+text)",
         lambda p: all(n <= 2 for n in read_schema_cols(p))),
        ("flag math inside whole-stage codegen", has_codegen),
    ],
    # ------------------------------------------------------------------
    # r12 post-gate addendum: the next debt tier by the same sf0.1
    # sweep ranking (4.8 s .. 2.5 s), pinned ahead of the r13 window.
    # ------------------------------------------------------------------
    "corpus_pretrain_build": [  # 4.8 s — mix/cap/pack composition
        ("the only nested-loops are the 1-row corpus-count scalar "
         "broadcasts (IdentityBroadcastMode), never a cartesian",
         lambda p: "CartesianProduct" not in p
         and p.split("== Initial Plan ==")[0].count(
             "BroadcastNestedLoop") <= 2
         and "IdentityBroadcastMode" in p),
        ("mix/cap aggregations are map-side combined",
         lambda p: "partial_count" in p or "partial_sum" in p),
        ("bounded exchanges for the full composition",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 4),
    ],
    "privacy_generalize_to_k": [  # 3.8 s — k-anonymity generalization
        ("no cartesian/nested-loop (quasi-identifier regrouping is "
         "keyed)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p.split("== Initial Plan ==")[0]),
        ("group-size counting is map-side combined",
         lambda p: "partial_count" in p),
        ("bounded exchanges (ladder levels share the groupBy keys)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 3),
    ],
    "ml_map_at_k": [  # 3.8 s — mean average precision
        ("per-query precision runs in windows over the scored rows; "
         "the only nested-loop is the 1-row query-count scalar",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "BroadcastNestedLoop") <= 1
         and "CartesianProduct" not in p),
        ("ONE keyed exchange feeds both per-query windows",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 1),
        ("rank math inside codegen", has_codegen),
    ],
    "agg_reaggregate_from_cube": [  # 3.3 s — cube → coarser rollup
        ("re-aggregation is two map-side-combined groupBys, no "
         "window, no join blowup",
         lambda p: "partial_" in p and "Window" not in p
         and "CartesianProduct" not in p),
        ("two exchanges total (cube grain, then coarse grain)",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 2),
    ],
    "ml_minmax_scale": [  # 3.2 s — per-type min-max scaling
        ("per-type (lo,hi) stats BROADCAST onto the stream — the "
         "event rows are never shuffled",
         lambda p: "BroadcastHashJoin" in p
         and p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 1),
        ("null filters pushed to the parquet scan",
         lambda p: "PushedFilters: [IsNotNull" in p),
        ("scale math inside codegen", has_codegen),
    ],
    "graph_hits_authorities": [  # 3.2 s — unrolled HITS iterations
        ("no cartesian/nested-loop anywhere in the unrolled "
         "hub/authority iterations (every propagation is a keyed "
         "join)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p.split("== Initial Plan ==")[0]),
        ("score propagation aggregates are map-side combined",
         lambda p: "partial_sum" in p),
        ("bounded exchanges for the fixed iteration unroll",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 9),
    ],
    "agg_chain_ladder": [  # 3.1 s — actuarial dev-factor triangle
        ("triangle build + dev factors: map-side-combined aggs, one "
         "ordered window, no cartesian",
         lambda p: "partial_" in p and "CartesianProduct" not in p
         and p.split("== Initial Plan ==")[0].count("Window [") == 1),
        ("bounded exchanges",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 3),
    ],
    "event_markov_steadystate": [  # 2.9 s — unrolled power iteration
        ("no cartesian; the only nested-loop is the 1-row "
         "normalization scalar",
         lambda p: "CartesianProduct" not in p
         and p.split("== Initial Plan ==")[0].count(
             "BroadcastNestedLoop") <= 1),
        ("transition-matrix propagation is keyed joins with map-side "
         "combine",
         lambda p: "partial_sum" in p),
        ("bounded exchanges for the fixed power-iteration unroll",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 20),
    ],
    "dim_late_arriving_inferred": [  # 2.9 s — inferred-member dim
        ("dim side broadcast LeftOuter — facts never shuffle for the "
         "match",
         lambda p: "BroadcastHashJoin" in p and "LeftOuter" in p),
        ("one map-side-combined aggregation exchange",
         lambda p: "partial_" in p
         and p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 1),
    ],
    "window_rolling_corr": [  # 2.8 s — 24h rolling correlation
        ("ONE window node computes ALL six rolling moments over the "
         "hourly aggregate (no per-moment passes)",
         lambda p: p.split("== Initial Plan ==")[0].count("Window [") == 1),
        ("the window input is the hourly AGGREGATE grain, never raw "
         "events (aggregate below the window)",
         lambda p: "partial_" in p and "HashAggregate" in p),
        ("no cartesian/nested-loop",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p.split("== Initial Plan ==")[0]),
    ],
    "event_absorbing_markov": [  # 2.8 s — absorbing-chain solve
        ("no cartesian/nested-loop anywhere in the unrolled absorbing "
         "solve",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p.split("== Initial Plan ==")[0]),
        ("propagation aggregates are map-side combined",
         lambda p: "partial_sum" in p),
        ("bounded exchanges for the fixed unroll",
         lambda p: p.split("== Initial Plan ==")[0].count(
             "Exchange hashpartitioning") <= 22),
    ],
    "udf_pandas_scalar_iter": [  # 2.5 s — Arrow scalar-iter UDF demo
        ("the UDF runs on the ARROW path (ArrowEvalPython), never the "
         "row-at-a-time BatchEvalPython path",
         lambda p: "ArrowEvalPython" in p and "BatchEvalPython" not in p),
        ("the selective filter is pushed BELOW the Python eval into "
         "the parquet scan (the UDF sees only surviving rows)",
         lambda p: "PushedFilters: [IsNotNull(o_orderkey), "
         "LessThan(o_orderkey,5000)]" in p),
        ("no shuffle anywhere",
         lambda p: "Exchange hashpartitioning" not in p),
    ],
}


def _lsh_buckets_plan(spark, sf_dir: str) -> str:
    from php_etl_spark.catalog import Catalog
    from php_etl_spark.llm import similarity as S

    emb = Catalog(spark, sf_dir).embeddings
    coefs = S.hyperplane_coefficients(spark, 8, 4, 64)
    df = S.lsh_buckets(emb, coefs)
    df.collect()
    return plan_of(df)


def _stream_plan_via_capture(spark, sf_dir: str) -> str:
    """Run the streaming interval join under availableNow and capture
    the executed micro-batch plan from the query's lastProgress/
    explain output."""
    import contextlib
    import io
    import tempfile

    from php_etl_spark.streaming.events import (
        events_stream,
        purchase_click_interval_join,
    )

    joined = purchase_click_interval_join(
        events_stream(spark, sf_dir), events_stream(spark, sf_dir)
    )
    q = (
        joined.writeStream.format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="audit_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain(extended=True)
    return buf.getvalue()


def _zorder_layout_plan(spark, sf_dir: str) -> str:
    """The clustered frame zorder_write() hands to the writer."""
    from pyspark.sql import functions as F

    from php_etl_spark.catalog import Catalog
    from php_etl_spark.sources.maintenance import zorder_value

    ev = Catalog(spark, sf_dir).events.select(
        "event_id",
        (F.col("user_id") % 256).alias("a"),
        (F.dayofyear(F.to_date("ts")) % 256).alias("b"),
    )
    clustered = (
        ev.withColumn("__z", zorder_value([F.col("a"), F.col("b")]))
        .repartitionByRange(8, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    return clustered._jdf.queryExecution().executedPlan().toString()


def _k_truss_round_plan(spark, sf_dir: str) -> str:
    """One k-truss peel round — the registered key's final frame is a
    materialize() leaf (iterative), so pin the per-round support
    recount via the SAME factored round the loop runs
    (operators/graph.k_truss_round; code-review r12: no duplicated
    threshold to drift)."""
    from php_etl_spark.catalog import Catalog
    from php_etl_spark.operators import graph as G

    li = Catalog(spark, sf_dir).lineitem
    edges = G.cooccurrence_pairs(li, "l_orderkey", "l_partkey")
    und = G.undirected_edges(edges, "item_a", "item_b")
    sup = G.k_truss_round(und, k=10)
    sup.collect()
    return plan_of(sup)


def _ppr_round_plan(spark, sf_dir: str) -> str:
    """One personalized-PageRank push round — the registered key's
    final frame is a materialize() leaf + top-k, so pin the per-round
    inflow join/aggregate the loop repeats, built from the SAME
    factored construction the query runs (queries._ppr_inputs /
    _ppr_push_round with pinning disabled so the full round plan is
    inspectable — code-review r12: no duplicated copy to drift)."""
    from pyspark.sql import functions as F

    from php_etl_spark import queries as Q

    e, aj = Q._ppr_inputs(spark, sf_dir)
    r = e.select("node", F.col("ev").alias("r"))
    nxt = Q._ppr_push_round(e, aj, r)
    nxt.collect()
    return plan_of(nxt)


def _json_corrupt_scan_plan(spark, sf_dir: str) -> str:
    """The PERMISSIVE corrupt-record scan — the registered key returns
    a driver-built two-row summary (counts are computed during frame
    construction), so pin the scan+filter that does the corpus-scale
    work."""
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from php_etl_spark.catalog import Catalog

    path = tempfile.mkdtemp(prefix="audit_json_") + "/nation.jsonl"
    n = Catalog(spark, sf_dir).nation.select("n_nationkey", "n_name")
    good = [
        f'{{"n_nationkey": {r["n_nationkey"]}, "n_name": "{r["n_name"]}"}}'
        for r in n.collect()
    ]
    bad = [f'{{"n_nationkey": BROKEN{i}' for i in range(5)]
    spark.createDataFrame(
        [(line,) for line in good + bad], "value string"
    ).coalesce(1).write.mode("overwrite").text(path)
    schema = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("n_name", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    permissive = (
        spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
    ).cache()
    permissive.count()
    corrupt = permissive.filter(F.col("_corrupt_record").isNotNull())
    corrupt.collect()
    return plan_of(corrupt)


def _stream_loj_plan_via_capture(spark, sf_dir: str) -> str:
    """Micro-batch plan of the LEFT OUTER stream-stream interval join
    (the registered key returns the sink read-back; the state/watermark
    machinery lives in the streaming plan captured here)."""
    import contextlib
    import io
    import tempfile

    from php_etl_spark.streaming.events import (
        events_stream,
        purchase_click_interval_join,
    )

    joined = purchase_click_interval_join(
        events_stream(spark, sf_dir),
        events_stream(spark, sf_dir),
        "leftOuter",
    )
    q = (
        joined.writeStream.format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="audit_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain(extended=True)
    return buf.getvalue()


PLAN_BUILDERS = {
    "stream_stream_join": _stream_plan_via_capture,
    "lsh_buckets_narrow": _lsh_buckets_plan,
    "zorder_layout": _zorder_layout_plan,
    # r12 debt-pool extension: keys whose registered frame is a
    # materialize()/read-back/driver-built leaf
    "graph_k_truss": _k_truss_round_plan,
    "graph_ppr_personalized": _ppr_round_plan,
    "scan_json_corrupt_modes": _json_corrupt_scan_plan,
    "stream_left_outer_join": _stream_loj_plan_via_capture,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from php_etl_spark.queries import QUERIES
    from php_etl_spark.session import get_spark

    spark = get_spark("explain-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    names = args.names or list(AUDITS)
    bad = 0
    for name in names:
        checks = AUDITS.get(name)
        if not checks:
            print(f"skip  {name}: no audit entries")
            continue
        # one broken query must report FAIL and let the rest of the
        # scoreboard run — a crash here once hid every later assertion
        try:
            if name in PLAN_BUILDERS:
                plan = PLAN_BUILDERS[name](spark, args.sf)
            else:
                df = QUERIES[name](spark, args.sf)
                df.collect()  # force AQE final plan
                plan = plan_of(df)
        except Exception as exc:  # noqa: BLE001 — report, continue
            bad += len(checks)
            first = str(exc).strip().splitlines()
            print(f"FAIL  {name}: plan build raised "
                  f"{type(exc).__name__}: {first[0][:120] if first else ''}")
            for desc, _ in checks:
                print(f"FAIL  {name}: {desc} (not evaluated)")
            continue
        for desc, pred in checks:
            try:
                ok = pred(plan)
            except Exception:
                ok = False
            mark = "PASS" if ok else "FAIL"
            if not ok:
                bad += 1
            print(f"{mark}  {name}: {desc}")
    print(f"\n{'OK' if not bad else f'{bad} plan assertions failed'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
