"""Physical-plan assertions: the plan-shape contract for key queries.

Correctness says WHAT each operator computes; this gate pins HOW Spark
executes it — the properties that decide whether the same code survives
a 100 TB input. Run:

    python tools/check_plans.py          # assert + write PLANS.md
    python tools/check_plans.py --sweep  # audit every registered query
    python tools/check_plans.py --sweep --dump plans.json
                                         # ... and dump normalized plans
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from articulation_vector_db_api_spark.registry import load_all  # noqa: E402
from articulation_vector_db_api_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

# query -> (must_contain, must_not_contain) regexes over explain("formatted")
#
# r16 note: witness queries now insert a hash repartition on doc_id
# BETWEEN the Arrow map and the final orderBy. A bare
# mapInPandas(...).orderBy(...) runs the map TWICE — the range
# exchange's sampling job re-executes the whole narrow subtree — while
# a shuffle barrier is materialized once and reused by both the
# sampling and the sort job (measured 2.46 s -> 1.45 s on a 0.5 s/task
# map). The exchange carries the map's OUTPUT stats rows (one per
# doc), never the decoded payload, so the bytes-never-shuffle posture
# is unchanged; contracts that pinned "no hashpartitioning" on these
# queries were updated accordingly.
EXPECTATIONS: dict[str, tuple[list[str], list[str]]] = {
    "multimodal_mpeg1_pframe_decode": (
        # r12 fixture re-base: the DECODE query scans the once-per-app
        # stream fixture through an Arrow-batched map — never the raw
        # documents table (witness ENCODE is fixture-build cost) and
        # never a pickled row-at-a-time Python eval
        [r"MapInPandas", r"mpeg1_pframe_es"],
        [r"documents\.parquet", r"BatchEvalPython"],
    ),
    "multimodal_mpeg2_decode": (
        [r"MapInPandas", r"mpeg2_witness_es"],
        [r"documents\.parquet", r"BatchEvalPython"],
    ),
    "multimodal_mpeg_ts_roundtrip": (
        # r13: per-doc encode+mux+demux+decode rides one Arrow map
        # over a doc_id projection — never a pickled Python eval
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "multimodal_hls_ts_stitch": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "multimodal_hls_encrypted_stitch": (
        # r14: AES-128 decrypt + TS demux ride the same Arrow map;
        # only the doc_id projection is scanned
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "multimodal_dash_timeline_roundtrip": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "multimodal_aiff_au_roundtrip": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "multimodal_fmp4_dash_roundtrip": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "ingest_office_extract": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "ingest_epub_extract": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "ingest_mail_extract": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "ingest_archive_explode": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "ingest_rtf_html_extract": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "pipeline_document_corpus_ingest": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "ingest_sevenz_explode": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "ingest_pdf_type0_extract": (
        # r15: Type0 PDF build+extract rides the Arrow map over the
        # (doc_id, text) projection
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "scan_zstd_jsonl": (
        # r15: RFC 8878 decode rides the same Arrow map over the
        # (doc_id, text) projection — no pickled eval, no shuffle of
        # compressed bytes
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "multimodal_hls_master_variant": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "multimodal_id3_cover_art": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "multimodal_ttml_subtitle_extract": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "multimodal_ass_subtitle_extract": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "multimodal_id3_metadata": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "pipeline_delivery_ingest": (
        [r"MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "matview_incremental_rollup": (
        # the view's read path merges STORE partials (scans under the
        # matview_rollup store) and never rescans the raw table
        [r"HashAggregate", r"matview_rollup"],
        [r"orders\.parquet"],
    ),
    "filter_project_pushdown": (
        [r"PushedFilters: \[.*IsNotNull", r"ReadSchema: [^\n]*l_orderkey"],
        [r"ReadSchema: [^\n]*l_partkey"],  # untouched columns must be pruned
    ),
    "q1_pricing_summary": (
        # partial (map-side) + final hash aggregate, filter pushed to scan
        [r"partial_sum", r"Keys \[2\]: \[l_returnflag", r"PushedFilters: \[.*LessThanOrEqual"],
        [],
    ),
    "join_broadcast_snowflake": (
        [r"BroadcastHashJoin"],
        [r"SortMergeJoin"],
    ),
    "join_sortmerge_fact": (
        [r"SortMergeJoin"],
        [r"BroadcastNestedLoopJoin"],
    ),
    "join_semi_customers_with_urgent": (
        [r"Join .*LeftSemi|LeftSemi.*Join"],
        [],
    ),
    "join_anti_customers_no_urgent": (
        [r"LeftAnti"],
        [],
    ),
    "flagship_search": (
        [r"TakeOrderedAndProject"],
        [r"Arguments: rangepartitioning"],  # no global sort for top-k
    ),
    "topk_orders_by_price": (
        [r"TakeOrderedAndProject"],
        [r"Arguments: rangepartitioning"],
    ),
    "window_running_sum": (
        [r"Window .*partitionBy|\bWindow\b"],
        [],
    ),
    "window_moving_avg": ([r"\bWindow\b"], []),
    "window_rank_customers": ([r"\bWindow\b"], []),
    "window_lag_lead": ([r"\bWindow\b"], []),
    "window_range_frame": ([r"\bWindow\b"], []),
    "dedup_exact": (
        [r"HashAggregate"],
        [r"SortMergeJoin"],  # no join needed for exact dedup
    ),
    "dedup_winnowing": (
        # pure per-row folds: no join, no aggregate anywhere
        [r"Scan parquet"],
        [r"SortMergeJoin", r"HashAggregate", r"BroadcastHashJoin"],
    ),
    "q5_region_revenue": (
        # dimension chain broadcasts; no nested-loop anywhere
        [r"BroadcastHashJoin"],
        [r"BroadcastNestedLoopJoin"],
    ),
    "search_batch_queries": (
        # query set broadcast-joined; ranking shuffles once on qid
        [r"BroadcastNestedLoopJoin|BroadcastHashJoin", r"Window"],
        [r"SortMergeJoin"],
    ),
    "sample_deterministic_hash": (
        # map-side filter only: sampling itself must not hash-shuffle
        # (the trailing Arguments: rangepartitioning is the parity sort)
        [r"Scan parquet"],
        [r"Arguments: hashpartitioning", r"SortMergeJoin", r"HashAggregate"],
    ),
    "merge_upsert_orders": (
        # MERGE = ONE join on the merge key, never a nested loop
        [r"SortMergeJoin .*FullOuter|FullOuter.*SortMergeJoin|ShuffledHashJoin .*FullOuter"],
        [r"BroadcastNestedLoopJoin"],
    ),
    "text_char_bigram_lm": (
        # the |alphabet|^2 model joins as broadcast; scoring never SMJs
        [r"BroadcastHashJoin", r"partial_sum"],
        [r"SortMergeJoin"],
    ),
    "q6_forecast_revenue": (
        # all four predicates reach the scan; single partial+final agg
        [r"partial_sum", r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate"],
        [r"SortMergeJoin", r"BroadcastHashJoin"],
    ),
    "q10_returned_items": (
        # top-20 via TakeOrderedAndProject, nation broadcast; no global sort
        [r"TakeOrderedAndProject", r"BroadcastHashJoin"],
        [r"Arguments: rangepartitioning", r"BroadcastNestedLoopJoin"],
    ),
    "q13_customer_order_distribution": (
        # outer join keeps ON-clause filter as join condition, double agg
        [r"partial_count", r"LeftOuter"],
        [r"BroadcastNestedLoopJoin"],
    ),
    "q15_top_supplier": (
        # scalar max broadcasts back — lineitem is scanned, never nested-looped
        [r"BroadcastHashJoin"],
        [r"BroadcastNestedLoopJoin", r"CartesianProduct"],
    ),
    "q18_large_volume_customers": (
        # IN-subquery = semi join; final top-100 avoids a global sort
        [r"LeftSemi", r"TakeOrderedAndProject"],
        [r"Arguments: rangepartitioning", r"BroadcastNestedLoopJoin"],
    ),
    "layout_zorder_stats": (
        # bit interleave stays in codegen'd expressions: no UDF, one agg
        [r"partial_count", r"partial_min"],
        [r"BatchEvalPython", r"ArrowEvalPython"],
    ),
    "dedup_minhash_lsh": (
        # banded LSH: candidate generation is a hash-partitioned band
        # equi-join + aggregates; nothing may plan as all-pairs
        [r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "dedup_ngram_jaccard": (
        [r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "similarity_join_lsh_bucket": (
        # bucket equi-join, never a cross product of the vector table
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "ann_bruteforce_topk": (
        # exact top-k = per-partition heaps, no global sort
        [r"TakeOrderedAndProject"],
        [r"Arguments: rangepartitioning"],
    ),
    "ann_ivf_exact": (
        # probe joins against broadcast centroid/query sides only
        [r"BroadcastHashJoin|BroadcastNestedLoopJoin"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "text_tfidf_top_terms": (
        # tf and df aggregate partial+final; the idf join carries no
        # forced broadcast (vocab grows with the corpus — AQE decides)
        [r"partial_count|partial_sum"],
        [r"CartesianProduct"],
    ),
    "ingest_extract_status": (
        # extraction must cross to Python via Arrow batches, never
        # row-at-a-time pickling
        [r"ArrowEvalPython|MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "pipeline_corpus_curation": (
        # the curation chain is pure codegen — no Python in the plan
        [r"HashAggregate"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
    ),
    "events_ohlc_bars": (
        # OHLC open/close via struct min/max = ONE partial+final agg,
        # never a per-row window pass
        [r"partial_min", r"partial_max"],
        [r"\bWindow\b"],
    ),
    "text_repetition_stats": (
        # sorted-array run fold: zero shuffle, no explode-aggregate
        [r"Scan parquet"],
        [r"HashAggregate", r"SortMergeJoin", r"Generate"],
    ),
    "q2_min_cost_supplier": (
        # correlated min decorrelated; dims broadcast; top-100 heap
        [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"Arguments: rangepartitioning"],
    ),
    "search_bm25": (
        # corpus stats = one broadcast row; scoring map-side; global
        # result = top-k heap merge, no explode, no full sort
        [r"BroadcastNestedLoopJoin", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"SortMergeJoin", r"Generate",
         r"Arguments: rangepartitioning"],
    ),
    "join_bucketed_noshuffle": (
        # bucketed storage pre-paid the shuffle: sort-merge join over
        # bucketed scans, ZERO hash exchanges anywhere in the plan
        [r"SortMergeJoin", r"SelectedBucketsCount|Bucketed: true"],
        [r"Exchange hashpartitioning", r"CartesianProduct"],
    ),
    "scan_partitioned_pruned": (
        # the lang predicate must resolve to directory pruning
        [r"PartitionFilters: \[[^\]]*lang"],
        [r"Exchange hashpartitioning"],
    ),
    "scan_text_roundtrip": (
        # read path is the line-oriented text export (codegen'd split
        # parse), never the parquet fixture
        [r"Scan text", r"partial_sum"],
        [r"documents\.parquet", r"BatchEvalPython"],
    ),
    "text_kneser_ney_bigram": (
        # hist/cont joins carry no forced broadcast (vocab grows with
        # the corpus — AQE picks the strategy); final top-30 is a heap
        # merge, not a global sort
        [r"TakeOrderedAndProject"],
        [r"Arguments: rangepartitioning", r"CartesianProduct"],
    ),
    "scan_orc_roundtrip": (
        # the read path is the ORC copy, with the price predicate
        # pushed to the stripe level and a partial+final aggregate;
        # the raw parquet fixture must not appear in the plan
        [r"Scan orc", r"PushedFilters: \[.*GreaterThan\(o_totalprice",
         r"partial_sum"],
        [r"orders\.parquet"],
    ),
    "ann_pq_adc_topk": (
        # codebook broadcast; encode+ADC map-side (LUT literal, no
        # Python in the hot path); shortlist and final top-k are heap
        # merges — no shuffle-by-vector anywhere
        [r"BroadcastNestedLoopJoin", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"SortMergeJoin", r"Generate",
         r"Arguments: rangepartitioning", r"BatchEvalPython",
         r"ArrowEvalPython"],
    ),
    "dedup_semantic_clusters": (
        # k-means assignment via broadcast codebook (map-side argmin);
        # pairwise dup mining must join on cluster id, never all-pairs
        [r"BroadcastNestedLoopJoin"],
        [r"CartesianProduct"],
    ),
    "pack_sequences_token_budget": (
        # two-pass prefix sum: corpus window keyed on bucket, offsets
        # broadcast back — the global cumsum never runs partition-less
        [r"windowspecdefinition\(bucket", r"BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    "dedup_substring_spans": (
        # duplicated-span set maps back via a semi-join on the digest;
        # the text column itself must never reach a shuffle
        [r"LeftSemi"],
        [r"CartesianProduct", r"Arguments: hashpartitioning\(text"],
    ),
    "text_perplexity_score": (
        # token counts partial-agg before the shuffle; the single-row
        # corpus total broadcasts, never a shuffled join
        [r"partial_count", r"BroadcastNestedLoopJoin"],
        [r"CartesianProduct"],
    ),
    "graph_pagerank": (
        # each power iteration is a keyed equi-join + aggregate; the
        # rank vector never cross-joins the edge list
        [r"HashAggregate"],
        [r"CartesianProduct"],
    ),
    "text_token_counts": (
        # all three tokenizations are codegen'd regex/split folds —
        # no Python, no shuffle before the parity sort
        [r"Scan parquet"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"Arguments: hashpartitioning"],
    ),
    "text_fingerprint": (
        # rolling-hash fold is a narrow map; collision grouping is the
        # only aggregate
        [r"Scan parquet"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
    ),
    "graph_triangle_count": (
        # every stage is a keyed equi-join: wedge join on the pivot,
        # closure check on the (a,b) pair — no all-pairs fallback
        [r"HashAggregate"],
        [r"CartesianProduct"],
    ),
    "dedup_lsh_recall_eval": (
        # candidates from the band equi-join, truth from the shingle
        # equi-join, intersection a pair-key join — never all-pairs
        [r"HashAggregate"],
        [r"CartesianProduct"],
    ),
    "ann_ivf_incremental_probe": (
        # the probe over the appended+compacted store must still prune:
        # the cell predicate reaches the scan as a partition filter
        [r"PartitionFilters: \[.*cell"],
        [r"CartesianProduct"],
    ),
    "chunk_tokens_window": (
        # one narrow map stage: split -> explode window starts -> slice;
        # the only exchange is the final presentation sort
        [r"Generate", r"Scan parquet"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"HashAggregate",
         r"CartesianProduct"],
    ),
    "ingest_incremental_embed": (
        # delta decided by a keyed join on (chunk_id, sha) — both sides
        # reduced to digests before the shuffle; no python, no cartesian
        [r"SortMergeJoin|BroadcastHashJoin", r"HashAggregate"],
        [r"BatchEvalPython", r"CartesianProduct"],
    ),
    "pipeline_dedup_keep_best": (
        # candidates from the shingle equi-join; survivor election is
        # one per-component window — no cartesian pair generation
        [r"\bWindow\b"],
        [r"CartesianProduct"],
    ),
    "ann_recall_eval": (
        # the 20-row query batch broadcasts to both the exact scan and
        # the bucket probe; nothing shuffles the corpus on a non-key
        [r"BroadcastNestedLoopJoin", r"BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    "dedup_incremental_batch": (
        # batch probes corpus on the shingle key; duplicate argmax is
        # a batch-sized window
        [r"\bWindow\b", r"HashAggregate"],
        [r"CartesianProduct"],
    ),
    "curation_shard_assignment": (
        # global rank must decompose into the bucket window + broadcast
        # offsets — never a partition-less window over the corpus
        [r"windowspecdefinition\(bucket", r"BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    "multimodal_resize_batch": (
        # resize crosses to Python as Arrow batches, never pickled rows
        [r"ArrowEvalPython|MapInPandas"],
        [r"BatchEvalPython"],
    ),
    "udf_pandas_vector_norm": (
        # the pandas UDF surface itself must be Arrow-vectorized
        [r"ArrowEvalPython"],
        [r"BatchEvalPython\b"],
    ),
    "udf_applyinpandas_order_gaps": (
        # grouped-map crosses as one Arrow batch per group, keyed by
        # the groupBy shuffle — no row-pickled fallback
        [r"FlatMapGroupsInPandas"],
        [r"BatchEvalPython\b", r"CartesianProduct"],
    ),
    "udf_grouped_agg_price_range": (
        # pandas grouped-agg rides the hash-aggregate path via Arrow
        [r"ArrowAggregatePython"],
        [r"BatchEvalPython\b", r"FlatMapGroupsInPandas"],
    ),
    "udf_mapinarrow_bytelen": (
        # mapInArrow keeps raw Arrow record batches end to end
        [r"MapInArrow"],
        [r"BatchEvalPython\b", r"ArrowEvalPython"],
    ),
    "udtf_char_trigrams": (
        # useArrow=True UDTF: Arrow-batch lateral path, same transfer
        # tier as every other Python boundary — no pickled rows at all
        [r"ArrowEvalPythonUDTF"],
        [r"BatchEvalPython", r"CartesianProduct"],
    ),
    "multimodal_binary_metadata": (
        # magic-byte dispatch is pure codegen over the binary column —
        # metadata extraction must not cross into Python at all
        [r"Scan parquet"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
    ),
    "text_langid": (
        # n-gram language ID scores entirely in codegen; profile join
        # broadcasts
        [r"Scan parquet"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
         r"SortMergeJoin"],
    ),
    "text_quality_stats": (
        # per-doc heuristics are narrow projections — no shuffle at all
        # before the parity sort
        [r"Scan parquet"],
        [r"Arguments: hashpartitioning", r"SortMergeJoin",
         r"BatchEvalPython", r"ArrowEvalPython"],
    ),
    "ann_int8_quantized_topk": (
        # scale factors broadcast; quantized scan + re-rank are both
        # heap merges, no global sort
        [r"TakeOrderedAndProject"],
        [r"Arguments: rangepartitioning", r"SortMergeJoin",
         r"CartesianProduct", r"BatchEvalPython"],
    ),
    "ann_filtered_topk": (
        # the metadata predicate must reach the parquet scan
        [r"PushedFilters: \[.*EqualTo\(label,1\)", r"TakeOrderedAndProject"],
        [r"Arguments: rangepartitioning"],
    ),
    "ann_binary_quantized_topk": (
        # signature build + hamming scan are map-side; both top-k
        # stages are heap merges
        [r"TakeOrderedAndProject"],
        [r"Arguments: rangepartitioning", r"SortMergeJoin", r"BatchEvalPython"],
    ),
    "ann_ivfpq_adc_topk": (
        # cell routing is a broadcast join (partition pruning at scale);
        # encode/ADC map-side; shortlist + final top-k are heap merges
        [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"SortMergeJoin", r"Arguments: rangepartitioning"],
    ),
    "events_peak_concurrency": (
        # boundary sweep decomposed: corpus running sum keyed on day;
        # the old partition-less windowspec over (t, delta) must be gone
        [r"windowspecdefinition\(day#\d+, t#"],
        [r"windowspecdefinition\(t#", r"CartesianProduct"],
    ),
    "agg_equidepth_histogram": (
        # ntile rebuilt from pre-bucket rank + broadcast offsets; the
        # corpus window keys on pb, never a partition-less global sort
        [r"windowspecdefinition\(pb#\d+, o_totalprice", r"BroadcastHashJoin"],
        [r"windowspecdefinition\(o_totalprice", r"CartesianProduct"],
    ),
    "agg_revenue_concentration": (
        # customer deciles via the same decomposition: the only window
        # over the (corpus-growing) customer set keys on pb; the global
        # ntile and its single-partition sort are gone
        [r"windowspecdefinition\(pb#\d+, spend", r"BroadcastHashJoin"],
        [r"windowspecdefinition\(spend", r"ntile", r"CartesianProduct"],
    ),
    "pipeline_training_export": (
        # four composed stages stay one job: digest-window dedup, LM
        # broadcast stats, bucket prefix-sum sharding; no Python, no
        # cartesian, no partition-less corpus window
        [r"windowspecdefinition\(bucket", r"BroadcastNestedLoopJoin"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
    ),
    "events_interval_coverage": (
        # both windows and both aggs share the user_id partitioning;
        # the island merge never self-joins
        [r"windowspecdefinition\(user_id"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "window_running_distinct": (
        # distinct-to-date via first-occurrence reduction: two hash
        # aggs + one windowed running sum, no set-valued window state
        [r"windowspecdefinition\(event_type", r"partial_min|partial_count"],
        [r"collect_set", r"CartesianProduct"],
    ),
    "sample_weighted_reservoir": (
        # A-ES sample = global top-k heap merge, not a full sort
        [r"TakeOrderedAndProject"],
        [r"Arguments: rangepartitioning", r"BatchEvalPython"],
    ),
    "join_asof_nearest": (
        # one union, one user-keyed shuffle feeding both directions'
        # window fills; no per-row subquery, no range self-join
        [r"windowspecdefinition\(key", r"Union"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "dedup_bloom_incremental": (
        # the bloom BIT set (bounded by the filter size) broadcasts;
        # the corpus-growing exact-fingerprint join lost its forced
        # hint in r7 — AQE picks it (broadcast at fixture scale, so the
        # positive pattern still holds), and no shape may go cartesian
        [r"BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    "text_word_trigrams": (
        # slide-by-transform: trigram build is a projection (no
        # self-join), count agg partial-combines map-side
        [r"partial_count", r"TakeOrderedAndProject"],
        [r"SortMergeJoin", r"CartesianProduct", r"BatchEvalPython"],
    ),
    "graph_bfs_hops": (
        # every expansion joins the broadcast frontier to the edges —
        # the edge set is never shuffled
        [r"BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    "sql_pipe_interface": (
        # the |> dialect compiles to the same plan as classic SELECT:
        # pushed-down date filter + partial/final hash aggregate
        [r"partial_count", r"PushedFilters: \[.*o_orderdate"],
        [r"CartesianProduct"],
    ),
    "graph_common_neighbors": (
        # wedge equi-join + anti-join adjacency check + top-20 heap —
        # never a nested lookup loop or global sort
        [r"LeftAnti", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"Arguments: rangepartitioning"],
    ),
    "join_scd2_temporal": (
        # bounded-candidates PIT join: day grid joins versions on the
        # user key with the as-of filter, then one ranked window
        [r"\bWindow\b", r"row_number"],
        [r"CartesianProduct", r"BatchEvalPython"],
    ),
    "graph_weighted_sssp": (
        # weighted relaxation keeps the BFS shape: broadcast frontier
        # into the edge join each round, edges never shuffled
        [r"BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    "sample_poisson_bootstrap": (
        # the x8 replicate fan-out is a map-side explode of a literal
        # range; only 8 partial aggregates shuffle — no joins at all
        [r"Generate", r"partial_sum"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"BatchEvalPython"],
    ),
    "events_cep_pattern": (
        # one user-keyed aggregation packs the symbol string; the regex
        # runs codegen'd per row — no joins, no window pass
        [r"ObjectHashAggregate|SortAggregate"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"\bWindow\b",
         r"BatchEvalPython"],
    ),
    "curation_topic_balance": (
        # assignment = broadcast single-row codebook (map-side argmin);
        # the only shuffles are the K-row counts agg
        [r"BroadcastNestedLoopJoin", r"partial_count"],
        [r"SortMergeJoin", r"CartesianProduct"],
    ),
    "events_ewma_daily": (
        # daily totals partial+final on the decimal path, then ONE
        # Arrow-batched grouped recursion — no window pass, no pickled
        # Python eval
        [r"partial_sum\(cast\(value", r"FlatMapGroupsInPandas"],
        [r"\bWindow\b", r"BatchEvalPython"],
    ),
    "events_token_bucket": (
        # one user-keyed shuffle into an Arrow-batched integer replay;
        # no window pass, no pickled Python eval
        [r"FlatMapGroupsInPandas"],
        [r"\bWindow\b", r"BatchEvalPython", r"SortMergeJoin"],
    ),
    "curation_model_quality_score": (
        # the fastText hashing trick's plan shape: NO model table, NO
        # join anywhere — one explode + one doc-keyed partial+final agg
        [r"partial_count", r"partial_sum", r"Generate"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"BatchEvalPython", r"ArrowEvalPython"],
    ),
    "curation_gopher_rules": (
        # single scan: one explode, (doc_id,tok) partial counts
        # map-side, then every rule folds into ONE per-doc aggregation
        # — the text column is read once and no join appears
        [r"partial_count", r"partial_max"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"BatchEvalPython"],
    ),
    "text_char_entropy": (
        # char explode map-side, both aggs partial+final
        [r"Generate", r"explode\(", r"partial_count"],
        [r"BatchEvalPython", r"CartesianProduct"],
    ),
    "embedding_matryoshka_topk": (
        # 1-row query side broadcast; top-k is a heap merge, not a sort
        [r"TakeOrderedAndProject", r"Broadcast"],
        [r"SortMergeJoin", r"Arguments: rangepartitioning"],
    ),
    "embedding_dim_stats": (
        # posexplode map-side; 64-key agg collapses before the shuffle
        [r"Generate", r"posexplode\(", r"partial_count"],
        [r"BatchEvalPython"],
    ),
    "events_resample_interpolate": (
        # hourly grid joined broadcast; windows run on the grid only
        [r"BroadcastHashJoin", r"Window"],
        [r"SortMergeJoin", r"CartesianProduct"],
    ),
    "agg_grouping_id_sets": (
        # one Expand feeding ONE partial+final aggregate for all grains
        [r"Expand", r"partial_count"],
        [r"Union"],
    ),
    "pivot_priority_multi_agg": (
        # static value list: no distinct-values job, one agg pair
        [r"partial_count"],
        [r"CollectLimit", r"Union"],
    ),
    "text_bpe_pair_counts": (
        # two map-side explodes, then one constant-size shuffle + heap
        [r"Generate", r"explode\(", r"TakeOrderedAndProject", r"partial_count"],
        [r"BatchEvalPython", r"Arguments: rangepartitioning"],
    ),
    "sample_train_val_test_split": (
        # split assignment map-side; audit agg partial+final; no joins
        [r"partial_count", r"partial_sum"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"BatchEvalPython"],
    ),
    "events_markov_transitions": (
        # one user_id sort-shuffle for lead(); matrix agg partial+final
        [r"\bWindow\b", r"partial_count"],
        [r"CartesianProduct", r"BatchEvalPython"],
    ),
    "window_percent_change_wow": (
        # lag runs on the aggregated weekly grid, after partial+final agg
        [r"\bWindow\b", r"partial_sum"],
        [r"SortMergeJoin", r"CartesianProduct"],
    ),
    "agg_hll_portable_registers": (
        # raw rows hit ONE aggregation; rollup+estimate run on registers;
        # nation dim broadcasts
        [r"BroadcastHashJoin", r"partial_max"],
        [r"CartesianProduct", r"BatchEvalPython"],
    ),
    "search_phrase_adjacent": (
        # match + count are one map-side expression: no explode, no agg
        [r"Scan parquet"],
        [r"Generate", r"HashAggregate", r"SortMergeJoin", r"BatchEvalPython"],
    ),
    "dq_freshness_by_type": (
        # two partial+final maxes, single-row broadcast join back
        [r"partial_max", r"Broadcast"],
        [r"SortMergeJoin"],
    ),
    "join_dpp_partitioned_fact": (
        # the dim filter must reach the fact scan as a DYNAMIC
        # partition filter (runtime pruning decided by the join), and
        # the dim must broadcast — no shuffle of the fact before the agg
        [r"PartitionFilters: \[[^\]]*dynamicpruningexpression\(o_year",
         r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"CartesianProduct"],
    ),
    "join_null_aware_anti": (
        # NOT IN plans as a broadcast LeftAnti probe with the quantity/
        # returnflag filter pushed into the inner scan; the probe is
        # map-side (no hash shuffle of part). The isNullAwareAntiJoin
        # flag itself is invisible in formatted mode, so the tri-state
        # semantics pin lives in tests/test_scale_patterns.py.
        [r"BroadcastHashJoin LeftAnti BuildRight",
         r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)"],
        [r"SortMergeJoin", r"CartesianProduct",
         r"Exchange hashpartitioning\(p_partkey"],
    ),
    "multimodal_audio_resample": (
        # codec decode crosses once via Arrow; the 23-tap fixed-point
        # interpolation + energy + digest are JVM higher-order funcs —
        # no Python eval, no aggregate, no data shuffle before the sort
        [r"MapInPandas"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
         r"HashAggregate", r"Arguments: hashpartitioning"],
    ),
    "text_unicode_clean": (
        # NFC crosses to Python exactly once, Arrow-batched; the
        # counting/scrub/digest expressions stay in codegen and the
        # only exchange is the presentation sort
        [r"ArrowEvalPython"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate",
         r"Arguments: hashpartitioning"],
    ),
    "scan_arrow_ipc_roundtrip": (
        # footer-planned PyDS batch scan feeding a partial+final agg
        [r"BatchScan arrow_ipc", r"partial_count"],
        [r"BatchEvalPython", r"CartesianProduct"],
    ),
    "scan_arrow_ipc_nested": (
        # nested (fixed_size_list + struct) batch scan, same shape: the
        # fixed-size→list re-materialization lives inside the PyDS
        # reader, never as a plan-side Python eval; checksum fold +
        # partial+final agg are all codegen
        [r"BatchScan arrow_ipc", r"partial_count"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
    ),
    "scan_avro_nested_roundtrip": (
        # per-block PyDS scan of the nested container; struct/array/map
        # access and the aggregates stay JVM-side
        [r"BatchScan avro_py", r"partial_count"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
    ),
    "multimodal_adts_probe": (
        # stream build + header walk in one Arrow crossing
        [r"MapInPandas"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
         r"HashAggregate"],
    ),
    "multimodal_mp3_probe": (
        # stream build + header walk in one Arrow crossing
        [r"MapInPandas"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
         r"HashAggregate"],
    ),
    "multimodal_opus_packet_stats": (
        # packet build + TOC walk in one Arrow crossing
        [r"MapInPandas"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
         r"HashAggregate"],
    ),
    "multimodal_gif_animation_frames": (
        # animation build + 4-frame composition in one Arrow crossing
        [r"MapInPandas"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
         r"HashAggregate"],
    ),
    "multimodal_ogg_flac_roundtrip": (
        # Ogg packet reassembly + FLAC decode cross to Python exactly
        # once, Arrow-batched; the only exchange is the final sort
        [r"MapInPandas"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
         r"HashAggregate"],
    ),
    "scan_warc_roundtrip": (
        # member-range PyDS scan; everything after it is codegen agg
        [r"BatchScan warc_py", r"partial_count"],
        [r"BatchEvalPython", r"CartesianProduct"],
    ),
    "pipeline_web_ingest": (
        # the crawl first-hop: one archive scan, the survivor window
        # keyed on the digest, one ledger aggregate
        [r"BatchScan warc_py", r"Window", r"HashAggregate"],
        [r"BatchEvalPython", r"CartesianProduct", r"SortMergeJoin"],
    ),
    "multimodal_phash_dct_dedup": (
        # decode+DCT in one Arrow map; shuffle keys on the 11-bit hash
        [r"MapInPandas", r"HashAggregate"],
        [r"BatchEvalPython", r"CartesianProduct"],
    ),
    "multimodal_tiff_roundtrip": (
        [r"MapInPandas"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate"],
    ),
    "multimodal_audio_flac_roundtrip": (
        [r"MapInPandas"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate"],
    ),
    "multimodal_audio_g711_roundtrip": (
        [r"MapInPandas"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate"],
    ),
    "multimodal_av_container_probe": (
        [r"MapInPandas"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate"],
    ),
    "multimodal_avi_dib_roundtrip": (
        # video build+decode is one Arrow narrow map; video bytes never
        # shuffle (the exchanges are the r16 post-map stats barrier —
        # hashpartitioning over the map's OUTPUT stats rows, inserted
        # so the parity sort's range-sampling job reuses the map's
        # shuffle files instead of re-running the decode — and the
        # parity sort itself)
        [r"MapInPandas"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate"],
    ),
    "multimodal_avi_mjpeg_scene_cuts": (
        [r"MapInPandas"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate"],
    ),
    "multimodal_video_caption_align": (
        # clip+caption decode and cue↔frame alignment in one Arrow map
        [r"MapInPandas"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate"],
    ),
    "multimodal_mkv_mjpeg_decode": (
        [r"MapInPandas"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate"],
    ),
    "multimodal_audio_caption_align": (
        [r"MapInPandas"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate"],
    ),
    "multimodal_qoi_roundtrip": (
        [r"MapInPandas"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate"],
    ),
    "multimodal_mp4_mjpeg_decode": (
        [r"MapInPandas"],
        [r"BatchEvalPython", r"CartesianProduct", r"HashAggregate"],
    ),
    "pipeline_video_curation": (
        # decode in the Arrow map; only signature triples shuffle —
        # election + ledger are keyed aggregations, never all-pairs
        [r"MapInPandas", r"HashAggregate"],
        [r"BatchEvalPython", r"CartesianProduct",
         r"BroadcastNestedLoopJoin"],
    ),
    "search_hybrid_rrf": (
        # fused tail over the bounded candidate set: a top-k heap, and
        # NO window of any kind — the global row_numbers of the first
        # cut (two corpus-sized Exchange SinglePartition sorts) are
        # gone; see search_hybrid_rrf[prune] for the distributed stage
        [r"TakeOrderedAndProject"],
        [r"windowspecdefinition\(", r"Exchange SinglePartition",
         r"Arguments: rangepartitioning", r"CartesianProduct"],
    ),
}

# query -> [(pattern, max_occurrences)] over the formatted plan.
# A window/agg chain that reuses one partitioning must not re-shuffle:
# the count pins how many hash exchanges the plan may contain (the
# trailing rangepartitioning exchange from the parity ORDER BY is
# allowed separately).
COUNT_LIMITS: dict[str, list[tuple[str, int]]] = {
    "window_running_sum": [(r"Arguments: hashpartitioning", 1)],
    "window_moving_avg": [(r"Arguments: hashpartitioning", 1)],
    "window_rank_customers": [(r"Arguments: hashpartitioning", 1)],
    "window_lag_lead": [(r"Arguments: hashpartitioning", 1)],
    "window_range_frame": [(r"Arguments: hashpartitioning", 1)],
    "q1_pricing_summary": [(r"Arguments: hashpartitioning", 1)],
    # bucket window + bucket totals + pack agg; anything more means the
    # prefix-sum decomposition regressed into extra shuffles
    "pack_sequences_token_budget": [(r"Arguments: hashpartitioning", 3)],
    "curation_shard_assignment": [(r"Arguments: hashpartitioning", 3)],
    # day-keyed sweep window + per-day totals agg (+ final per-day agg
    # reusing the window's partitioning)
    "events_peak_concurrency": [(r"Arguments: hashpartitioning", 3)],
    # pb-keyed rank window + pb counts agg + final bucket agg
    "agg_equidepth_histogram": [(r"Arguments: hashpartitioning", 4)],
    # user-keyed windows + island agg + final per-user agg share ONE
    # hash exchange
    "events_interval_coverage": [(r"Arguments: hashpartitioning", 1)],
    # (type,user) first-day agg + per-day agg + running-sum window
    "window_running_distinct": [(r"Arguments: hashpartitioning", 3)],
    "join_asof_nearest": [(r"Arguments: hashpartitioning", 1)],
    "agg_weighted_median": [(r"Arguments: hashpartitioning", 2)],
    # ONE archive pass (tree-node form 'BatchScan warc_py (n)'), and
    # exactly the digest-window + ledger-agg hash exchanges — the
    # two-branch first cut scanned the archive twice
    "pipeline_web_ingest": [
        (r"BatchScan warc_py \(", 1),
        (r"Arguments: hashpartitioning", 2),
    ],
}

# name -> builder for plan-only audits of streaming transformations
# (the registered query executes the stream and returns a memory-sink
# read, whose plan no longer shows the stateful operators).
STREAMING_EXPECTATIONS: dict[str, tuple[list[str], list[str]]] = {
    "stream_tumbling_window[transform]": (
        # incremental stateful agg: restore -> merge -> save, with a
        # map-side partial agg below the single exchange
        [r"StateStoreRestore", r"StateStoreSave", r"HashAggregate"],
        [r"CartesianProduct"],
    ),
    "stream_curation_admission[transform]": (
        # exactly-once admission: digest dedup keyed state + the
        # per-source stateful rollup; quality filter below the dedup
        [r"StreamingDeduplicate", r"StateStoreSave"],
        [r"CartesianProduct"],
    ),
    "stream_session_window[transform]": (
        # native session-window state: merging session store, not a
        # per-row window pass
        [r"SessionWindowStateStore"],
        [r"CartesianProduct", r"\bWindow\b"],
    ),
    "stream_dedup[transform]": (
        # exactly-once dedup = keyed StreamingDeduplicate state, then a
        # normal stateful agg. Catalyst ELIMINATES the double-delivery
        # self-union below the dedup (duplicates are dropped anyway) —
        # assert that collapse held rather than the union's presence
        [r"StreamingDeduplicate", r"StateStoreSave"],
        [r"CartesianProduct", r"Union"],
    ),
    "stream_cdc_apply[transform]": (
        # changelog apply = one Arrow-batched stateful operator keyed
        # on user_id (the Sort below it is the per-partition group-by-
        # key sort every FlatMapGroups operator plans, not a feed
        # sort); no window pass over the raw feed anywhere
        [r"FlatMapGroupsInPandasWithState"],
        [r"CartesianProduct", r"\bWindow\b"],
    ),
}


# plan-only audits of operator STAGES whose registered query returns a
# bounded-tail plan (the distributed stage runs eagerly inside the
# builder, so its shape must be pinned on the stage DataFrame itself).
STAGE_EXPECTATIONS: dict[str, tuple[list[str], list[str]]] = {
    "search_hybrid_rrf[prune]": (
        # the one corpus-sized stage: text-free projection, ONE hash
        # exchange on the shard key, both rank windows keyed on it —
        # never a partition-less window or single-partition exchange
        [r"windowspecdefinition\(shard"],
        [r"windowspecdefinition\(raw", r"windowspecdefinition\(kw_hits",
         r"Exchange SinglePartition", r"CartesianProduct",
         r"BatchEvalPython"],
    ),
    "search_indexed_topk[table]": (
        # a search over the stored chunk table is the serving
        # projection's SQL fold under per-partition top-k heaps: no
        # shuffle, no global sort, and the scan never reads ``pos``
        [r"TakeOrderedAndProject", r"ReadSchema: struct<id:string,text:string"],
        [r"Exchange", r"\bSort\b", r"ReadSchema: [^\n]*\bpos:"],
    ),
}

STAGE_COUNT_LIMITS: dict[str, list[tuple[str, int]]] = {
    "search_hybrid_rrf[prune]": [(r"Arguments: hashpartitioning", 1)],
}


def _stage_frames(spark):
    import atexit
    import shutil
    import tempfile

    from articulation_vector_db_api_spark.operators.ingest import (
        write_chunk_table,
    )
    from articulation_vector_db_api_spark.operators.search import (
        build_chunk_index,
        rrf_candidate_prune,
        topk_search_indexed,
    )
    from articulation_vector_db_api_spark.suites.core import hybrid_rrf_scored

    # the chunk table as ingest writes it, for the stored-table search
    table = tempfile.mkdtemp(prefix="plan-check-chunks-")
    atexit.register(shutil.rmtree, table, True)
    write_chunk_table(build_chunk_index(spark, SF), table)
    return {
        "search_hybrid_rrf[prune]": rrf_candidate_prune(
            hybrid_rrf_scored(spark, SF), 128, 32
        ),
        "search_indexed_topk[table]": topk_search_indexed(
            spark, table, "transfer credits", 5
        ),
    }


def _streaming_frames(spark):
    from articulation_vector_db_api_spark.streaming.windows import (
        read_documents_stream,
    )
    from articulation_vector_db_api_spark.suites.streaming import (
        cdc_apply_transform,
        curation_admission_transform,
        dedup_count_transform,
        read_events_stream,
        session_window_agg,
        tumbling_window_agg,
    )

    return {
        "stream_tumbling_window[transform]": tumbling_window_agg(
            read_events_stream(spark, SF)
        ),
        "stream_curation_admission[transform]": curation_admission_transform(
            read_documents_stream(spark, SF)
        ),
        "stream_session_window[transform]": session_window_agg(
            read_events_stream(spark, SF)
        ),
        "stream_dedup[transform]": dedup_count_transform(
            read_events_stream(spark, SF)
        ),
        "stream_cdc_apply[transform]": cdc_apply_transform(
            read_events_stream(spark, SF)
        ),
    }


# nodes NO registered query may ever plan, anywhere: an accidental
# cross product or a row-pickling Python eval is a 100 TB outage
# regardless of which query it hides in. (ArrowEvalPythonUDTF is the
# sanctioned UDTF node; bare BatchEvalPython matches the pickled ones.)
FORBIDDEN_EVERYWHERE = (r"CartesianProduct", r"BatchEvalPython")

# r17 (ADVICE r16 item 4): positive structural pin for the r16
# post-map stats barrier. r16 replaced several "no hashpartitioning"
# bans with nothing, so a regression that hash-shuffles witness or
# payload bytes BEFORE the Arrow map would have passed. This pins the
# intended shape for every barrier site: the plan must contain a
# hashpartitioning(doc_id) exchange, and every hash exchange must sit
# DOWNSTREAM of the map (formatted-explain node ids grow toward the
# root, so each hash exchange's id must exceed every MapInPandas id).
# The list is every `.repartition("doc_id")` barrier site the r16
# round inserted (61 queries; payload-emitting chunkers deliberately
# have no barrier and are not listed).
BARRIER_QUERIES = frozenset({
    "ingest_archive_explode", "ingest_epub_extract",
    "ingest_mail_extract", "ingest_office_extract",
    "ingest_pdf_type0_extract", "ingest_rtf_html_extract",
    "ingest_sevenz_explode", "multimodal_adts_probe",
    "multimodal_aiff_au_roundtrip", "multimodal_ass_subtitle_extract",
    "multimodal_audio_adpcm_roundtrip",
    "multimodal_audio_caption_align", "multimodal_audio_flac_roundtrip",
    "multimodal_audio_framing", "multimodal_audio_g711_roundtrip",
    "multimodal_audio_vad_trim", "multimodal_audio_wav_roundtrip",
    "multimodal_av_container_probe", "multimodal_avi_av_extract",
    "multimodal_avi_dib_roundtrip", "multimodal_avi_mjpeg_scene_cuts",
    "multimodal_dash_timeline_roundtrip",
    "multimodal_fmp4_dash_roundtrip", "multimodal_gif_animation_frames",
    "multimodal_gif_roundtrip", "multimodal_hls_encrypted_stitch",
    "multimodal_hls_master_variant", "multimodal_hls_ts_stitch",
    "multimodal_id3_cover_art", "multimodal_id3_metadata",
    "multimodal_jpeg_roundtrip", "multimodal_mkv_av_extract",
    "multimodal_mkv_mjpeg_decode", "multimodal_mp1_decode",
    "multimodal_mp2_decode", "multimodal_mp3_probe",
    "multimodal_mp4_audio_extract", "multimodal_mp4_mjpeg_decode",
    "multimodal_mpeg1_bframe_decode", "multimodal_mpeg1_iframe_decode",
    "multimodal_mpeg1_in_containers", "multimodal_mpeg1_pframe_decode",
    "multimodal_mpeg2_decode", "multimodal_mpeg2_ps_roundtrip",
    "multimodal_mpeg_ps_roundtrip", "multimodal_mpeg_ts_roundtrip",
    "multimodal_ogg_flac_roundtrip", "multimodal_opus_packet_stats",
    "multimodal_pixel_roundtrip", "multimodal_qoi_roundtrip",
    "multimodal_resize_pixels", "multimodal_subtitle_normalize",
    "multimodal_tiff_roundtrip", "multimodal_ttml_subtitle_extract",
    "multimodal_video_caption_align", "multimodal_vorbis_decode",
    "multimodal_webp_roundtrip", "pipeline_delivery_ingest",
    "pipeline_document_corpus_ingest", "scan_zstd_jsonl",
    "text_html_extract",
})


def barrier_violations(plan: str) -> list[str]:
    """Structural violations of the post-map barrier shape in a
    formatted plan (empty list = OK)."""
    nodes = re.findall(r"^\((\d+)\) (\S+)", plan, flags=re.M)
    map_ids = [int(i) for i, n in nodes if n.startswith("MapInPandas")]
    if not map_ids:
        return ["no MapInPandas node"]
    # hash exchanges: '(n) Exchange' detail blocks whose Arguments
    # carry hashpartitioning
    hash_ids = [
        int(m.group(1))
        for m in re.finditer(
            r"^\((\d+)\) Exchange\b(?:(?!^\(\d+\) ).)*?"
            r"Arguments: hashpartitioning",
            plan,
            flags=re.M | re.S,
        )
    ]
    out = []
    doc_barrier = re.search(
        r"^\(\d+\) Exchange\b(?:(?!^\(\d+\) ).)*?"
        r"Arguments: hashpartitioning\(doc_id",
        plan,
        flags=re.M | re.S,
    )
    if doc_barrier is None:
        out.append("missing hashpartitioning(doc_id) barrier")
    below = [h for h in hash_ids if h < max(map_ids)]
    if below:
        out.append(f"hash exchange(s) {below} upstream of MapInPandas")
    return out


def normalize_plan(plan: str) -> str:
    """A formatted plan without what differs between two builds of the
    same query: expression ids (``#12``, ``#12L``), ``[plan_id=N]``
    tags and RDD ids (``MapPartitionsRDD[349]``), which count up per
    session, the Spark application id in scratch-table paths, and the
    checkout directory. The dumps of two checkouts then compare byte
    for byte."""
    plan = re.sub(r"\[plan_id=\d+\]", "", re.sub(r"#\d+L?", "", plan))
    plan = re.sub(r"RDD\[\d+\]", "RDD[]", plan)
    plan = re.sub(r"local-\d+", "local-<app>", plan)
    return plan.replace(ROOT, "<repo>")


def main() -> int:
    import sys as _sys

    spark = get_spark("plan-check")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    failures = []
    sections = []

    def explain(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )

    if "--sweep" in _sys.argv:
        # global audit: every registered query's plan, not just the
        # per-query contracts below. ``--dump PATH`` also writes each
        # query's normalized plan, output schema and oracle SQL as JSON,
        # so the dumps of two checkouts can be diffed for plan identity.
        dump_path = None
        if "--dump" in _sys.argv:
            dump_path = _sys.argv[_sys.argv.index("--dump") + 1]
        dump = {}
        swept = bad_n = 0
        for name, q in sorted(registry.items()):
            try:
                df = q.fn(spark, SF)
                plan = explain(df)
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL   {name}: plan error {type(exc).__name__}")
                bad_n += 1
                continue
            dump[name] = {
                "plan": normalize_plan(plan),
                "schema": df.schema.simpleString(),
                "oracle": q.oracle and q.oracle.replace(ROOT, "<repo>"),
            }
            hits = [f for f in FORBIDDEN_EVERYWHERE if re.search(f, plan)]
            if name in BARRIER_QUERIES:
                hits += barrier_violations(plan)
            swept += 1
            if hits:
                print(f"FAIL   {name}: {hits}")
                bad_n += 1
        print(f"sweep: {swept - bad_n}/{swept} plans free of "
              f"{list(FORBIDDEN_EVERYWHERE)} + barrier-shape violations "
              f"({len(BARRIER_QUERIES)} barrier pins)")
        if dump_path:
            with open(dump_path, "w") as f:
                json.dump(dump, f, indent=1, sort_keys=True)
            print(f"dump: {len(dump)} plans -> {dump_path}")
        return 1 if bad_n else 0

    frames = (
        {name: registry[name].fn(spark, SF) for name in EXPECTATIONS}
        | _stage_frames(spark)
        | _streaming_frames(spark)
    )
    checks = EXPECTATIONS | STAGE_EXPECTATIONS | STREAMING_EXPECTATIONS
    count_limits = COUNT_LIMITS | STAGE_COUNT_LIMITS

    for name, (must, must_not) in sorted(checks.items()):
        plan = explain(frames[name])
        bad = [p for p in must if not re.search(p, plan)] + [
            f"!{p}" for p in must_not if re.search(p, plan)
        ]
        for pat, max_n in count_limits.get(name, []):
            n = len(re.findall(pat, plan))
            if n > max_n:
                bad.append(f"{pat} x{n}>{max_n}")
        status = "OK" if not bad else f"FAIL {bad}"
        print(f"{status:6} {name}")
        if bad:
            failures.append(name)
        physical = plan.split("\n\n")[0]
        sections.append(f"## {name} — {status}\n\n```\n{physical.strip()}\n```\n")

    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan contract (generated by tools/check_plans.py)\n\n"
            "Plan-shape assertions for the queries where execution strategy\n"
            "decides 100 TB viability: pushdown + pruning reach the scan,\n"
            "dimension joins broadcast, fact joins sort-merge, top-k avoids\n"
            "global sorts, aggregates are partial+final. Additionally\n"
            f"`--sweep` audits EVERY registered query ({len(registry)} "
            f"registered) for\n"
            "nodes forbidden engine-wide: CartesianProduct and pickled\n"
            "BatchEvalPython.\n\n"
            "**Broadcast-hint audit (r6):** every `F.broadcast` site in\n"
            "`suites/textops.py` was classified by the broadcast side's\n"
            "cardinality. Dropped as unbounded (corpus-growing vocabularies —\n"
            "a forced hint bypasses Spark's size check and OOMs executors at\n"
            "100 TB; AQE now picks the strategy): `text_kneser_ney_bigram`\n"
            "(hist/cont), `text_tfidf_top_terms` (df), `text_rake_keywords`\n"
            "(wscore), `text_bpe_encode_tokens` (word_tokens). Kept as\n"
            "provably bounded: single-row scalar totals, B-row bucket\n"
            "offsets, 3-row probe frames, `text_char_bigram_lm`'s\n"
            "|alphabet|²-bounded model, and `text_contamination_overlap`'s\n"
            "benchmark set (a real held-out benchmark is fixed-size by\n"
            "construction). Oracles unchanged — join strategy never affects\n"
            "values.\n\n" + "\n".join(sections)
        )
    print(f"\n{len(checks) - len(failures)}/{len(checks)} plans OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
