"""Plan audit: assert the physical plans have the properties that
matter at 100 TB — filter pushdown into the parquet scan, pruned read
schemas, broadcast joins for dims, partial (map-side) aggregation,
TakeOrderedAndProject for top-k, no Python row-at-a-time UDFs in
relational paths.

Usage: python tools/explain_audit.py [sf_dir]
Prints one PASS/FAIL line per assertion and a summary; exit 1 on any
FAIL. This is the `.explain`-and-iterate loop, automated.
"""

from __future__ import annotations

import sys


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _python_is_signature(p: str, n: int) -> bool:
    """Exactly ``n`` ArrowEvalPython lines, all the hyperplane
    signature UDF, and no other Python operator in the plan."""
    evals = [ln for ln in p.splitlines() if "ArrowEvalPython" in ln]
    return (len(evals) == n
            and all("[signature(" in ln for ln in evals)
            and "MapInPandas" not in p and "BatchEvalPython" not in p)


CHECKS = [
    # (query, description, predicate(plan_str, optimized_str))
    (
        "q02_filter_in",
        "filter pushed to parquet scan (PushedFilters has In/GreaterThanOrEqual)",
        lambda p, o: "PushedFilters: [" in p and "In(l_returnflag" in p and "GreaterThanOrEqual(l_quantity" in p,
    ),
    (
        "q04_select_project",
        "column pruning reaches scan (ReadSchema only 3 columns)",
        lambda p, o: "ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>" in p,
    ),
    (
        "q01_pricing_summary",
        "partial aggregation before shuffle (two HashAggregate phases)",
        lambda p, o: p.count("HashAggregate") >= 2 and "partial_" in p.lower(),
    ),
    (
        "q06_sort_topk",
        "sort+limit fused to TakeOrderedAndProject (no global sort)",
        lambda p, o: "TakeOrderedAndProject" in p and "Sort [" not in p,
    ),
    (
        "q14_join_customer_orders",
        "dim join broadcast (BroadcastHashJoin, no SortMergeJoin)",
        lambda p, o: "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
    ),
    (
        "q16_join_region_revenue",
        "star join: all dim joins broadcast",
        lambda p, o: p.count("BroadcastHashJoin") >= 4 and "SortMergeJoin" not in p,
    ),
    (
        "q15_join_shipping_topk",
        "segment filter pushed into the customer scan (through 2 joins)",
        lambda p, o: "EqualTo(c_mktsegment,BUILDING)" in p,
    ),
    (
        "q34_knn_brute",
        "query set broadcast to corpus scan",
        lambda p, o: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p,
    ),
    (
        "q28_dedup_minhash",
        "no Python UDF in the minhash path (pure JVM expressions)",
        lambda p, o: "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
    ),
    (
        "q101_minhash_star",
        "star mode: NO LSH self-join — hub via window over skinny band rows",
        lambda p, o: "Join" not in p and "Window" in p and "BatchEvalPython" not in p,
    ),
    (
        "q31_text_langid",
        "tokenizer evaluated once per row, not inlined per language-compare",
        lambda p, o: p.count("split(lower(") <= 5 and "BatchEvalPython" not in p,
    ),
    (
        "q23_window_tumbling_hour",
        "single shuffle for window agg (partial agg present)",
        lambda p, o: p.count("Exchange") <= 2,
    ),
    (
        "q13_chunk_batches",
        "global row index is bucket-partitioned (no single-partition WindowExec)",
        lambda p, o: all(
            "], [__gidx_bkt" in ln for ln in p.splitlines() if "Window [" in ln
        ) and any("Window [" in ln for ln in p.splitlines()),
    ),
    (
        "q43_count_window_agg",
        "count-window global index bucket-partitioned (no single-partition WindowExec)",
        lambda p, o: all(
            "], [__gidx_bkt" in ln for ln in p.splitlines() if "Window [" in ln
        ) and any("Window [" in ln for ln in p.splitlines()),
    ),
    (
        "q102_sliding_count_window",
        "sliding membership is a map-side explode (Generate) over the "
        "bucket-partitioned global index; no Python, no cartesian",
        lambda p, o: "Generate" in p
        and all(
            "], [__gidx_bkt" in ln for ln in p.splitlines() if "Window [" in ln
        )
        and any("Window [" in ln for ln in p.splitlines())
        and "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        and "MapInPandas" not in p and "CartesianProduct" not in p,
    ),
    (
        "q56_pii_redact",
        "PII scrub is pure JVM regexp chain (no Python UDF)",
        lambda p, o: "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
    ),
    (
        "q57_text_repetition",
        "repetition ratios are per-row folds (zero Exchange, no Python UDF)",
        lambda p, o: "Exchange" not in p and "BatchEvalPython" not in p,
    ),
    (
        "q65_boilerplate",
        "boilerplate: doc text never shuffles — boiler set broadcast back, strip is per-row (no collect_list reassembly)",
        lambda p, o: "collect_list" not in p and "SortMergeJoin" not in p
        and "BatchEvalPython" not in p and p.count("BroadcastHashJoin") >= 1,
    ),
    (
        "q58_decontam_ngram",
        "benchmark grams broadcast (all joins BroadcastHashJoin, corpus never shuffles for the join)",
        lambda p, o: p.count("BroadcastHashJoin") >= 2 and "SortMergeJoin" not in p,
    ),
    (
        "q59_asof_join",
        "as-of join = union scan + keyed window (no join operator, ONE hash shuffle)",
        lambda p, o: "Join" not in p and p.count("Exchange hashpartitioning") == 1,
    ),
    (
        "q60_range_join",
        "range join bucketed to an equi-join (no nested-loop)",
        lambda p, o: "NestedLoop" not in p
        and any(j in p for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")),
    ),
    (
        "q61_rollup",
        "rollup = one Expand + partial-aggregated shuffle (not one job per level)",
        lambda p, o: "Expand" in p and p.count("HashAggregate") >= 2 and "partial_" in p.lower(),
    ),
    (
        "q62_profile",
        "all-column profile is ONE aggregate (no per-column scans: exactly one parquet scan)",
        lambda p, o: p.count("Scan parquet") == 1 and "BatchEvalPython" not in p,
    ),
    (
        "q64_fuzzy_join",
        "fuzzy join never cross-joins (gram equi-join + verify; only BNLJ is the "
        "1-row max_df totals cap)",
        lambda p, o: "CartesianProduct" not in p
        and all(
            "__total" in ln
            for ln in p.splitlines()
            if "BroadcastNestedLoopJoin" in ln
        )
        and "__total" in p,  # the guard IS armed (cap condition present)
    ),
    (
        "q68_knn_lsh",
        "LSH kNN join: band-bucket equi-join, nothing broadcast-nested-loop "
        "or cartesian; the only Python is the signature Arrow UDF, run "
        "once into the persisted band frame (printed under both of its "
        "scans: two ArrowEvalPython lines)",
        lambda p, o: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        and _python_is_signature(p, 2),
    ),
    (
        "q152_knn_lsh_scaled",
        "occupancy-scaled LSH kNN keeps the same equi-join shape (no "
        "BNLJ/cartesian) and the same single persisted signature pass",
        lambda p, o: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        and _python_is_signature(p, 2),
    ),
    (
        "q161_knn_lsh_pq_verify",
        "PQ-verified LSH kNN: equi-joins only (no BNLJ/cartesian), the "
        "SDC screen is in the plan (__approx ranked over code columns "
        "__cc/__qc) — candidates are scored from codes, vectors join "
        "only after the rerank cut",
        lambda p, o: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "__approx" in p and "__cc" in p and "__qc" in p,
    ),
    (
        "q162_pq_encode_gemm",
        "deployment encode: the CORPUS codes come from ONE scalar "
        "Arrow UDF evaluation (one ArrowEvalPython — the validity "
        "filter does not copy it) with no interpreted HOF argmin on "
        "the corpus stream — every zip_with line sits under the "
        "BroadcastExchange (the |queries| x m x k ADC distance table, "
        "5 rows here); the search joins that table broadcast, no "
        "cartesian/BNLJ",
        lambda p, o: (lambda lines, bx: (
            p.count("ArrowEvalPython") == 1
            and "BroadcastHashJoin" in p
            and "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p
            and bx >= 0  # no broadcast line at all -> FAIL, not crash
            and all(i > bx for i, ln in enumerate(lines)
                    if "zip_with" in ln)
        ))(p.splitlines(),
           next((j for j, bl in enumerate(p.splitlines())
                 if "BroadcastExchange" in bl), -1)),
    ),
    (
        "q163_knn_ivfpq",
        "IVFPQ search: corpus codes stamped in ONE Arrow pass "
        "(one ArrowEvalPython encode), the probe map and the ADC "
        "distance table broadcast into hash joins (>= 2 "
        "BroadcastHashJoin) — the corpus never broadcasts and never "
        "cross-joins; the final rank is over adc_dist",
        lambda p, o: p.count("ArrowEvalPython") == 1
        and p.count("BroadcastHashJoin") >= 2
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "adc_dist" in p,
    ),
    (
        "q164_ivfpq_deploy",
        "IVFPQ deployment stamp: BOTH corpus stamps (assign_cells + "
        "pq_encode) are Arrow passes — two ArrowEvalPython, no "
        "interpreted argmin on the corpus stream — and the search "
        "keeps the broadcast probe/dtable joins, no cartesian/BNLJ",
        lambda p, o: p.count("ArrowEvalPython") == 2
        and p.count("BroadcastHashJoin") >= 2
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "adc_dist" in p,
    ),
    (
        "q165_ivfpq_rerank",
        "IVFPQ refine: the exact stage ranks l2_dist computed from "
        "vectors joined AFTER the ADC cut (survivors broadcast into "
        "the vector join — the corpus never broadcasts), no "
        "cartesian/BNLJ",
        lambda p, o: "l2_dist" in p and "adc_dist" in p
        and p.count("BroadcastHashJoin") >= 3
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
    ),
    (
        "q155_py_group_eval",
        "grouped-apply: ONE pinned-width exchange (REPARTITION_BY_NUM) reused by "
        "FlatMapGroupsInPandas (no second hash shuffle), scan pruned to 3 columns",
        lambda p, o: "FlatMapGroupsInPandas" in p
        and p.count("Exchange") == 1 and "REPARTITION_BY_NUM" in p
        and "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>" in p,
    ),
    (
        "q156_media_resize",
        "image pipeline: 3 Arrow passes (synth/resize/stats), NO keyed shuffle "
        "(round-robin widens only), scan reads doc_id alone",
        lambda p, o: p.count("MapInPandas") == 3
        and "Exchange hashpartitioning" not in p
        and "ReadSchema: struct<doc_id:bigint>" in p,
    ),
    (
        "q160_fuzzy_join_candidates",
        "candidates-route fuzzy join: equi-joins only (no BNLJ/cartesian), "
        "zero Python nodes, scans pruned to (p_partkey, p_name), and the "
        "vocabulary-bounded names collapse cached — every downstream "
        "consumer reads the InMemoryTableScan instead of re-running the "
        "corpus scan + aggregate",
        lambda p, o: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "MapInPandas" not in p and "BatchEvalPython" not in p
        and "ReadSchema: struct<p_partkey:bigint,p_name:string>" in p
        and "InMemoryTableScan" in p,
    ),
    (
        "q159_approx_sketches",
        "sketch aggregates: map-side partial HLL/GK merge (partial_approx_* before "
        "the exchange), tiny aggregate frames broadcast-joined (no SMJ)",
        lambda p, o: "partial_approx_count_distinct" in p
        and "partial_percentile_approx" in p
        and "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
    ),
    (
        "q77_topk_per_group",
        "salted top-k: every WindowExec carries a partition spec (no global-order window)",
        lambda p, o: sum(1 for ln in p.splitlines() if "Window [" in ln) == 2
        and all("[lang" in ln for ln in p.splitlines() if "Window [" in ln),
    ),
    (
        "q78_weighted_sample",
        "weighted sample's smallest-k is TakeOrderedAndProject (heaps, no global sort)",
        lambda p, o: "TakeOrderedAndProject" in p and "Sort [" not in p,
    ),
    (
        "q79_skew_analyze",
        "skew diagnostics: no WindowExec; rank/totals joins broadcast over <=top rows only",
        lambda p, o: "Window" not in p and "SortMergeJoin" not in p
        and "CartesianProduct" not in p
        and ("BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
    ),
    (
        "q80_decontam_bloom",
        "bloom check (inline path): zero shuffle of the corpus, zero Python, "
        "no __pa position-matrix flatten at bench sizing",
        lambda p, o: "Exchange" not in p and "BatchEvalPython" not in p
        and "ArrowEvalPython" not in p and "MapInPandas" not in p
        and "__pa" not in p,
    ),
    (
        "q81_embedding_normalize",
        "L2 normalize: per-row JVM folds only (zero Exchange, zero Python)",
        lambda p, o: "Exchange" not in p and "BatchEvalPython" not in p
        and "ArrowEvalPython" not in p,
    ),
    (
        "q83_pack_sequences",
        "packing: exactly ONE shuffle (shard key), Arrow-batched scan, no extra sort pass",
        lambda p, o: p.count("Exchange") == 1 and "MapInPandas" in p,
    ),
    (
        "q84_sample_balanced",
        "balanced cap: tournament windows always partitioned (reuses salted top-k)",
        lambda p, o: sum(1 for ln in p.splitlines() if "Window [" in ln) == 2
        and all("[lang" in ln for ln in p.splitlines() if "Window [" in ln),
    ),
    (
        "q87_event_funnel",
        "funnel: ONE hash shuffle (by user), fold is pure JVM (no Python, no joins)",
        lambda p, o: p.count("Exchange hashpartitioning") == 1
        and "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        and "Join" not in p,
    ),
    (
        "q88_time_resample",
        "resample: forward-fill windows partitioned by the keys (never global-order)",
        lambda p, o: any("Window [" in ln for ln in p.splitlines())
        and all("[user_id" in ln for ln in p.splitlines() if "Window [" in ln),
    ),
    (
        "q89_retention_cohort",
        "retention: first-activity window keyed by user; cohort sizes broadcast back",
        lambda p, o: all("[user_id" in ln for ln in p.splitlines() if "Window [" in ln)
        and "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
    ),
    (
        "q104_media_pixel_stats",
        "real PNG decode: id-only scan, widen exchange only, per-row (no agg shuffle)",
        lambda p, o: "ReadSchema: struct<doc_id:bigint>" in p
        and p.count("Exchange") == 1 and "HashAggregate" not in p,
    ),
    (
        "q110_jpeg_pixel_stats",
        "real JPEG decode: id-only scan, widen exchange only, per-row (no agg shuffle)",
        lambda p, o: "ReadSchema: struct<doc_id:bigint>" in p
        and p.count("Exchange") == 1 and "HashAggregate" not in p,
    ),
    (
        "q109_gif_pixel_stats",
        "real GIF decode: id-only scan, widen exchange only, per-row (no agg shuffle)",
        lambda p, o: "ReadSchema: struct<doc_id:bigint>" in p
        and p.count("Exchange") == 1 and "HashAggregate" not in p,
    ),
    (
        "q105_py_eval_ast",
        "AST UDF: static column pruning pierces the mapInPandas barrier "
        "(lang/source never leave the scan), widen exchange only",
        lambda p, o: "lang" not in [
            c.split(":")[0]
            for ln in p.splitlines() if "ReadSchema" in ln
            for c in ln.split("ReadSchema: struct<")[1].rstrip(">").split(",")
        ] and p.count("Exchange") == 1,
    ),
    (
        "q106_audio_pcm_stats",
        "real PCM decode: id-only scan, widen exchange only, per-row (no agg shuffle)",
        lambda p, o: "ReadSchema: struct<doc_id:bigint>" in p
        and p.count("Exchange") == 1 and "HashAggregate" not in p,
    ),
    (
        "q107_dedup_hamming",
        "hamming pairing: the only Python is the embedding.lsh "
        "signature Arrow UDF, run once into the persisted band frame "
        "(printed under both of its scans: two ArrowEvalPython lines); "
        "the pairing is all-JVM: band equi-join only (no "
        "cartesian/BNLJ), one codegen'd bit_count verify",
        lambda p, o: _python_is_signature(p, 2)
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p and "bit_count" in p,
    ),
    (
        "q116_stats_correlation",
        "correlation matrix: ONE aggregate pass for all pairs (single "
        "parquet scan, partial agg), zero Python",
        lambda p, o: p.count("Scan parquet") == 1
        and p.count("HashAggregate") >= 2 and "partial_" in p.lower()
        and "BatchEvalPython" not in p,
    ),
    (
        "q117_text_perplexity",
        "LM scoring: all-JVM counts + fold (zero Python), no cartesian "
        "(vocab scalar rides a broadcast 1-row frame), partial aggs",
        lambda p, o: "BatchEvalPython" not in p and "MapInPandas" not in p
        and "CartesianProduct" not in p
        and "partial_" in p.lower() and "BroadcastExchange" in p,
    ),
    (
        "q118_classify_linear",
        "classifier inference: weights table broadcast-joined, zero "
        "Python, no cartesian/BNLJ",
        lambda p, o: "BroadcastHashJoin" in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
    ),
    (
        "q119_rank_bm25",
        "bm25: query side broadcast into the posting join, top-k window "
        "partitioned by query (never global), zero Python",
        lambda p, o: p.count("BroadcastHashJoin") >= 2
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and "CartesianProduct" not in p
        and all("query_id" in ln or "__qid" in ln
                for ln in p.splitlines() if "Window [" in ln)
        and any("Window [" in ln for ln in p.splitlines()),
    ),
    (
        "q120_embedding_kmeans",
        "kmeans assignment: pure-codegen argmin (zero Python, no "
        "cartesian — centroids are literals, not a joined side)",
        lambda p, o: "BatchEvalPython" not in p and "MapInPandas" not in p
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "array_position" in p,
    ),
    (
        "q121_knn_pq",
        "PQ search: corpus moves as (id, subspace, code) triples — "
        "distance table broadcast, per-query window, zero Python",
        lambda p, o: "BatchEvalPython" not in p and "MapInPandas" not in p
        and "CartesianProduct" not in p
        and "BroadcastHashJoin" in p
        and all("__qid" in ln or "query_vec_id" in ln
                for ln in p.splitlines() if "Window [" in ln)
        and any("Window [" in ln for ln in p.splitlines()),
    ),
    (
        "q122_dsir_select",
        "DSIR selection: global top-50 fused to TakeOrderedAndProject "
        "(no full sort), zero Python",
        lambda p, o: "TakeOrderedAndProject" in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and "CartesianProduct" not in p,
    ),
    (
        "q123_text_split",
        "sentence split: pure codegen regex chain — zero shuffle, "
        "zero Python",
        lambda p, o: "Exchange" not in p and "BatchEvalPython" not in p
        and "MapInPandas" not in p,
    ),
    (
        "q124_corpus_manifest",
        "manifest: one aggregate pass (partial agg), codegen hashes, "
        "zero Python",
        lambda p, o: p.count("Scan parquet") == 1
        and "partial_" in p.lower() and "BatchEvalPython" not in p
        and "MapInPandas" not in p,
    ),
    (
        "q127_embedding_pca",
        "PCA: moments collected at build (one Q^T Q matmul per Arrow "
        "batch + partial agg), projection codegen, zero Python",
        lambda p, o: "BatchEvalPython" not in p and "MapInPandas" not in p
        and "CartesianProduct" not in p,
    ),
    (
        "q128_mine_bitext",
        "bitext mining: bucketed candidate equi-join (no cartesian), "
        "per-key windows, zero Python",
        lambda p, o: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and any("Window [" in ln for ln in p.splitlines()),
    ),
    (
        "q133_rank_tfidf",
        "tfidf: postings shuffle once, N rides a broadcast 1-row "
        "frame, top-k window partitioned by doc, zero Python",
        lambda p, o: "CartesianProduct" not in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and any("Window [" in ln for ln in p.splitlines()),
    ),
    (
        "q134_text_readability",
        "readability: per-row JVM exprs — widen exchange only, no "
        "agg/join shuffle, zero Python",
        lambda p, o: p.count("Exchange") <= 1 and "Join" not in p
        and "HashAggregate" not in p and "BatchEvalPython" not in p
        and "MapInPandas" not in p,
    ),
    (
        "q135_ks_test",
        "KS: two-phase bucketed cumsum (no unpartitioned window over "
        "the spine), distributed top-1 argmax, zero Python",
        lambda p, o: "CartesianProduct" not in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and "TakeOrderedAndProject" in p,
    ),
    (
        "q150_text_gini",
        "gini: per-row sorted-run array exprs — widen exchange only, "
        "no agg/join shuffle, zero Python",
        lambda p, o: p.count("Exchange") <= 1 and "Join" not in p
        and "HashAggregate" not in p and "BatchEvalPython" not in p
        and "MapInPandas" not in p,
    ),
    (
        "q148_mutual_information",
        "MI: one (term,class) aggregate, class marginals broadcast, "
        "quantized int64 sum, zero Python, no cartesian",
        lambda p, o: "CartesianProduct" not in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and "BroadcastExchange" in p and "HashAggregate" in p,
    ),
    (
        "q149_perplexity_backoff",
        "stupid backoff: skinny posting equi-joins against the m-gram "
        "tables, position-ordered fold, zero Python, no cartesian "
        "(the 1-row scalars BNLJ broadcast excepted)",
        lambda p, o: "CartesianProduct" not in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and "HashAggregate" in p,
    ),
    (
        "q146_dedup_lines",
        "line dedup: per-row first-occurrence array exprs — widen "
        "exchange only, no agg/join shuffle, zero Python",
        lambda p, o: p.count("Exchange") <= 1 and "Join" not in p
        and "HashAggregate" not in p and "BatchEvalPython" not in p
        and "MapInPandas" not in p,
    ),
    (
        "q143_jensen_shannon",
        "JSD: vocabulary-sized count tables full-outer equi-join, "
        "token totals ride 1-row broadcasts, map-side partial sum to "
        "one row, zero Python, no window",
        lambda p, o: "CartesianProduct" not in p
        and "Window [" not in p and "BatchEvalPython" not in p
        and "MapInPandas" not in p and "HashAggregate" in p,
    ),
    (
        "q142_routed_manifest",
        "routed manifest: weights/classes broadcast, one manifest "
        "aggregate, zero Python, no data-sized cartesian",
        lambda p, o: "CartesianProduct" not in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and "BroadcastExchange" in p,
    ),
    (
        "q144_sample_temperature",
        "temperature mixing: tiny source-count agg + broadcast rates "
        "(1-row denom BNLJ allowed), per-row epoch Generate, no "
        "window, zero Python, corpus never sort-merge-joins",
        lambda p, o: "CartesianProduct" not in p
        and "SortMergeJoin" not in p and "Window [" not in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and "Generate" in p and "BroadcastExchange" in p,
    ),
    (
        "q141_text_entropy",
        "entropy: per-row sorted-run array exprs — widen exchange "
        "only, no agg/join shuffle, zero Python",
        lambda p, o: p.count("Exchange") <= 1 and "Join" not in p
        and "HashAggregate" not in p and "BatchEvalPython" not in p
        and "MapInPandas" not in p,
    ),
    (
        "q136_classify_multiclass",
        "multiclass: weights/classes broadcast (the docs x K candidate "
        "frame is a broadcast cross of a tiny class list — allowed), "
        "postings shuffle once, zero Python, no data-sized cartesian",
        lambda p, o: "CartesianProduct" not in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and "BroadcastExchange" in p and "HashAggregate" in p,
    ),
    (
        "q137_winnow",
        "winnowing: per-doc array exprs — widen exchange only, no "
        "agg/join/window shuffle, zero Python, explode only at output",
        lambda p, o: p.count("Exchange") <= 1 and "Join" not in p
        and "HashAggregate" not in p and "Window [" not in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and "Generate" in p,
    ),
    (
        "q138_cdc_chunk",
        "CDC chunking: per-doc array exprs — widen exchange only, no "
        "agg/join shuffle, zero Python, explode only at output",
        lambda p, o: p.count("Exchange") <= 1 and "Join" not in p
        and "HashAggregate" not in p and "BatchEvalPython" not in p
        and "MapInPandas" not in p and "Generate" in p,
    ),
    (
        "q132_semdedup",
        "SemDeDup: trained cells bound the pair space — bucketed "
        "equi-joins only, no cartesian/BNLJ, pairs GEMM via Arrow",
        lambda p, o: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "BatchEvalPython" not in p,
    ),
    (
        "q131_feature_hashing",
        "hashing trick: per-row signed-count folds, zero shuffle "
        "before the explode (no agg, no join, no Python)",
        lambda p, o: "HashAggregate" not in p and "Join" not in p
        and p.count("Exchange") <= 1 and "BatchEvalPython" not in p
        and "MapInPandas" not in p and "Generate" in p,
    ),
    (
        "q129_quality_gopher",
        "Gopher rules: per-row JVM exprs — widen exchange only, no "
        "agg/join shuffle, zero Python",
        lambda p, o: p.count("Exchange") <= 1 and "Join" not in p
        and "HashAggregate" not in p and "BatchEvalPython" not in p
        and "MapInPandas" not in p,
    ),
    (
        "q130_c4_filter",
        "C4 clean: per-row JVM line filter + rewrite — widen exchange "
        "only, no agg/join shuffle, zero Python",
        lambda p, o: p.count("Exchange") <= 1 and "Join" not in p
        and "HashAggregate" not in p and "BatchEvalPython" not in p
        and "MapInPandas" not in p,
    ),
    (
        "q115_sample_mixture",
        "mixture: union of filtered scans — zero shuffle, zero Python",
        lambda p, o: "Exchange" not in p and "BatchEvalPython" not in p
        and "MapInPandas" not in p and "Union" in p,
    ),
    (
        "q114_substring_cut",
        "cut pass: per-row JVM token filter (no Python), spans aggregated "
        "once and joined back",
        lambda p, o: "BatchEvalPython" not in p and "MapInPandas" not in p
        and "CartesianProduct" not in p,
    ),
    (
        "q113_dedup_substring",
        "substring spans: islands window partitioned by (pair, diagonal) — "
        "never global; equi-join only, zero Python",
        lambda p, o: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p
        and all("pos_a#" in ln or "id_a" in ln
                for ln in p.splitlines() if "Window [" in ln)
        and any("Window [" in ln for ln in p.splitlines()),
    ),
    (
        "q112_bpe_saturated",
        "bpe encode: two-column scan, pure map (no join/agg in the encode plan)",
        lambda p, o: "ReadSchema: struct<doc_id:bigint,text:string>" in p
        and "MapInPandas" in p and "HashAggregate" not in p
        and "Join" not in p,
    ),
    (
        "q111_pagerank",
        "pagerank iteration: equi-joins only (no cartesian/BNLJ), zero Python",
        lambda p, o: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "BatchEvalPython" not in p and "MapInPandas" not in p,
    ),
    (
        "q108_url_normalize",
        "url canonicalization: zero shuffle, zero Python, id-only scan",
        lambda p, o: "Exchange" not in p and "MapInPandas" not in p
        and "BatchEvalPython" not in p
        and "ReadSchema: struct<doc_id:bigint>" in p,
    ),
]


def extra_checks(spark, sf_dir: str) -> list[tuple[str, str, bool]]:
    """Plan checks for ops not in the query suite."""
    from conveyor_spark.registry import OpContext, get_function

    ctx = OpContext(spark=spark)
    results = []

    # salted join: left sharded by deterministic hash, right exploded
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr("o_orderkey AS l_orderkey", "o_totalprice")
    salted = get_function("join.apply").fn(ctx, [li, o], {"on": "l_orderkey", "salt": 8})
    p = plan_of(salted)
    results.append((
        "salted_join",
        "salt shards via xxhash64 + explode (skew fan-out in the plan)",
        "xxhash64" in p and ("Generate explode" in p or "explode" in p),
    ))

    # AQE actually on in the engine session
    results.append((
        "session_aqe",
        "adaptive execution enabled in engine session",
        spark.conf.get("spark.sql.adaptive.enabled") == "true",
    ))

    # AQE skew-join: a hot key must trigger OptimizeSkewedJoin in the
    # FINAL adaptive plan (thresholds lowered so a local fixture can
    # cross them; at 100 TB the defaults fire on real skew). The plan
    # must show the split-and-replicate markers.
    skew_confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k) for k in skew_confs}
    try:
        for k, v in skew_confs.items():
            spark.conf.set(k, v)
        hot = spark.range(200000).selectExpr("CAST(0 AS BIGINT) AS k", "repeat('x', 64) AS pad")
        tail = spark.range(1, 2000).selectExpr("id AS k", "'y' AS pad")
        right = spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS v")
        j = get_function("join.apply").fn(ctx, [hot.union(tail), right], {"on": "k", "how": "inner"})
        j.collect()  # AQE finalizes the plan only on ITS OWN execution
        jp = plan_of(j)
        results.append((
            "aqe_skew_join",
            "hot key triggers OptimizeSkewedJoin (skew=true + skewed shuffle read)",
            "isFinalPlan=true" in jp
            and "(skew=true)" in jp
            and "skewed" in jp,
        ))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    # bucketed join: no exchange on either side (co-location)
    facts = spark.range(0, 5000).selectExpr("id AS k", "id * 2 AS v")
    dims = spark.range(0, 500).selectExpr("id AS k", "concat('d', id) AS name")
    # table writes INSIDE the try: a failure writing the second table
    # (stale table from a crashed run, disk error) must still drop
    # whatever was created, or the next audit run inherits it
    try:
        get_function("table.write").fn(ctx, [facts], {"name": "audit_facts", "bucket_by": "k", "num_buckets": 4, "sort_by": "k"})
        get_function("table.write").fn(ctx, [dims], {"name": "audit_dims", "bucket_by": "k", "num_buckets": 4, "sort_by": "k"})
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            jp = plan_of(spark.table("audit_facts").join(spark.table("audit_dims"), on="k"))
            results.append((
                "bucketed_join",
                "bucketed tables join without Exchange (co-located)",
                "Exchange hashpartitioning" not in jp and "SortMergeJoin" in jp,
            ))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS audit_facts")
        spark.sql("DROP TABLE IF EXISTS audit_dims")
    return results


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.path.insert(0, "/root/repo")
    from conveyor_spark.queries import QUERIES
    from conveyor_spark.session import get_spark

    spark = get_spark(app_name="explain-audit")
    failures = 0
    n_extra = 0
    for name, desc, ok in extra_checks(spark, sf_dir):
        n_extra += 1
        print(f"{'PASS' if ok else 'FAIL'} {name}: {desc}")
        if not ok:
            failures += 1
    for qname, desc, pred in CHECKS:
        # one failing/renamed query must print FAIL and move on — the
        # contract is a line per assertion plus a summary, not an
        # aborted traceback that hides the remaining checks
        try:
            df = QUERIES[qname](spark, sf_dir)
            p = plan_of(df)
            ok = pred(p, None)  # no check uses the optimized plan
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {qname}: {desc} — {type(exc).__name__}: {str(exc)[:200]}")
            failures += 1
            continue
        print(f"{'PASS' if ok else 'FAIL'} {qname}: {desc}")
        if not ok:
            failures += 1
            print("  ---- physical plan ----")
            print("  " + "\n  ".join(p.splitlines()[:40]))
    n_total = len(CHECKS) + n_extra
    print(f"\n{n_total - failures} pass, {failures} fail")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
