"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402
import sycamore_spark as ss  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: relational pipelines, dedup, similarity, text analysis.
# (dedup_jaccard and dedup_embedding are correctness-tier: exact-quadratic
# baselines whose scale path is dedup_minhash / embedding LSH.)
HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q14",
    "tpch_q18",
    "tpch_q19",
    "groupby_count_unique",
    "sort_limit",
    "window_rank",
    "time_bucket",
    "json_extract",
    "term_frequency",
    "custom_agg",
    "sessionize",
    "asof_join",
    "interval_join",
    "dedup_exact",
    "dedup_minhash",
    "ann_topk",
    "text_stats",
    "lang_id",
    "quality",
    "fingerprint",
    "chunk_overlap",
    "multimodal_meta",
    "graph_nodes",
    "repetition",
    "contamination",
    "doc_merge_table",
    "doc_unexplode",
    "table_ted",
    # round-4 additions
    "tpch_q13",
    "tpch_q21",
    "semantic_dedup",
    "incremental_dedup",
    "tfidf",
    "window_analytics",
    "lm_score",
    "pipeline_e2e",
    "rag_context",
    # round-4 session-2 additions: full TPC-H, sketches, training-order ops
    "tpch_q2",
    "tpch_q9",
    "tpch_q11",
    "tpch_q16",
    "tpch_q20",
    "sketch_distinct",
    "sketch_quantile",
    "sketch_overlap",
    "cap_per_group",
    "corpus_shuffle",
    "bloom_join",
    "zorder",
    "json_variant",
    "incremental_stats",
    "rank_normalize",
    "nb_classify",
    "pagerank",
    "clip_outliers",
    "truncate",
    "top_per_group",
    "histogram",
    "webdataset",
    "resample",
    "divergence",
    "quantile_bucket",
    "pattern_counts",
    "validate",
    "funnel",
    "cohort",
    "interval_union",
    "asof_forward",
    "cusum",
    "transitions",
    "paths",
    "zscore",
    "mad",
    "rolling_median",
    "fuzzy_join",
    # round-5 additions (containment excluded: exact pair enumeration over
    # a template-heavy corpus is correctness-tier, like dedup_jaccard)
    "cdc_snapshot",
    "scd2",
    "triangles",
    "robust_scale",
    "curriculum",
    "active_users",
    "heavy_hitters",
    "mmr",
    "trend",
    "seasonal",
    "join_size",
    "oov",
    "hll_active_users",
    "pmi",
    "kcore",
    "csv_roundtrip",
    "orc_roundtrip",
    "semantic_chunk",
    "rouge",
    "cer",
    "wer",
    "qa_eval",
    "doc_reconstruct",
    "docids",
    "bbox_sort",
    "unit_convert",
    "unit_derive",
    "formula_derive",
    "stepthrough_extract",
    "bm25_pruned",
    "pq_ann",
    "stream_cdc",
    # round-6 additions
    "bbox_rotation",
    "subtask_exec",
    "dup_spans",
    "url_canon",
    "crawl_prep",
    "predicate_dsl",
    "temp_mixture",
    "snippets",
    "phrase_search",
    "html_tables",
    "inverted_index",
    "pdf_convert",
    "bpe_merges",
    "bpe_encode",
    # round-7 additions
    "eval_pipeline",
    "doc_etl_e2e",
    "select_pages",
    "pdf_split",
    "promote_title",
    "crop_regions",
    "draw_boxes",
    "image_urls",
    "element_images",
    # round-8 additions
    "ivf_pq_ann",
    "ivf_pq_multi",
    "ivf_pq_refine",
    "ivf_pq_store",
    "sq_ann",
    "ann_recall",
    "rrf_hybrid",
    "stream_ann_ingest",
    "pack_shards_part",
    # round-9 additions
    "hybrid_search",
    "ann_store_compact",
    "ann_filtered",
    "ann_drift",
    "rag_hybrid_e2e",
    "sequence_pack",
    "ivf_pq_refine_multi",
    "ann_store_upsert",
    "stream_ann_upsert",
    # round-10 additions
    "rrf_weighted",
    "ann_reindex",
    "embed_cdc_e2e",
    "index_cdc",
    "ann_range",
    "stream_index_cdc",
    "bm25_serve",
    "hybrid_serve",
    "index_rebucket",
    # round-10 session-3 additions: data-selection / decontamination /
    # fingerprinting / corpus-stats suite
    "dsir_weights",
    "cluster_cap",
    "mixture_tokens",
    "contamination_spans",
    "decontaminate",
    "winnow",
    "winnow_pairs",
    "zipf_fit",
    "paragraph_filter",
    "domain_classifier",
    "curation_e2e",
    # round-11 additions
    "paragraph_dedup_e2e",
    "d4_select",
    "d4_e2e",
    # round-12 additions
    "store_sync",
    "bin_pack",
    "edu_select",
    "calibrate",
    "store_roundtrip",
    "ccnet_e2e",
    # round-13 additions
    "calibrate_binned",
    "gopher_quality",
    "unimax",
    "c4_clean",
    "gopher_repetition",
    "stream_quality",
    "fineweb_e2e",
    "rho_select",
    "doremi",
    "rouge_l",
    "instruction_filter",
    "embed_decontaminate",
    "stream_instr_pool",
    "calibrated_select",
    "blocklist",
    "anneal_schedule",
    "tokenizer_fertility",
    "maxsim",
    "qlm",
    "rm3",
]
# soft_dedup / split_leakage excluded: they consume the correctness-tier
# exact jaccard pair table (like dedup_cc/dedup_profile); their scale path
# is the same pairs from minhash LSH, already benched via dedup_minhash
# dedup_profile excluded: composes the correctness-tier exact jaccard pairs
# containment_lsh excluded: like containment, its sf0.1 output is the 2.2M
# true pairs of this template-heavy corpus (output-bound; PERF.md r6 records
# its 12.3x warm 10x ratio vs the exact baseline's 41.8x)


def calibration_probe(spark) -> float:
    """Fixed-work CPU probe: a constant-size in-memory hash aggregation whose
    runtime depends only on this machine's available CPU at this moment —
    identical work every invocation, no data dependence. Timed before and
    after the sweep, it lets a reader tell host drift (probe inflated the
    same way as the queries) from a code regression (probe steady, queries
    slower). Two rounds running (r5 lesson, r7 recurrence) the committed
    record needed prose caveats about a wandering host; this makes the
    record carry its own validity signal."""
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).selectExpr(
        "sum(id * 2654435761 % 1000003) AS s"
    ).collect()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    spark = ss.init(app_name="sycamore-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.queries()
    timings: dict[str, float] = {}

    load_pre = [round(x, 2) for x in os.getloadavg()]
    ncpu = os.cpu_count() or 32
    # a settled machine: 1-min load under ~half the cores before we start
    # (a draining load average from a just-finished pytest run inflates ALL
    # queries ~1.2-2x uniformly and reads as a regression on untouched code)
    load_settled = load_pre[0] < ncpu / 2
    if not load_settled:
        print(
            f"WARNING: 1-min load average {load_pre[0]} >= {ncpu}/2 — host not "
            f"settled; timings will be inflated. Record marked load_settled=false.",
            file=sys.stderr,
        )

    # Warm the JVM/codegen path once with a cheap query so the first measured
    # query doesn't absorb session startup.
    queries["groupby_count"](spark, SF_DIR).collect()
    calibration_probe(spark)  # warm the probe's own codegen too
    probe_pre = calibration_probe(spark)

    # Each query runs twice: the first run pays one-time whole-stage-codegen
    # JIT compilation (a constant, ~seconds, independent of data size); the
    # second run is the steady-state number that projects to cluster scale.
    cold: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        t0 = time.perf_counter()
        fn(spark, SF_DIR).collect()
        cold[name] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        fn(spark, SF_DIR).collect()
        timings[name] = round(time.perf_counter() - t0, 3)

    probe_post = calibration_probe(spark)
    load_post = [round(x, 2) for x in os.getloadavg()]

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    calibration = {
        "probe_sec_pre": probe_pre,
        "probe_sec_post": probe_post,
        "loadavg_pre": load_pre,
        "loadavg_post": load_post,
        "ncpu": ncpu,
        # the session's own core count: ncpu is the host's, which the
        # session's master (SPARK_GRAFT_CPUS) may narrow
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "load_settled": load_settled,
    }
    result = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cold_total_sec": round(sum(cold.values()), 3),
        "calibration": calibration,
    }
    line = json.dumps(result)
    # Full record (all per-query timings) goes to a file: the driver's stdout
    # tail capture is ~2000 chars, and a 119-entry "queries" dict overflows it,
    # nulling the parsed record (BENCH_r05/r06). The LAST stdout line is a
    # compact summary that always fits the capture window: same metric/value/
    # unit/sf, "queries" trimmed to the 5 slowest, plus n_queries + a pointer.
    # SPARK_GRAFT_BENCH_OUT overrides the record path so multi-run noise
    # studies don't overwrite each other's full per-query records
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json"),
    )
    with open(out_path, "w") as f:
        f.write(line + "\n")
    print(f"bench result written to {out_path}", file=sys.stderr)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    compact = {
        "metric": result["metric"],
        "value": total,
        "unit": "sec",
        "sf": result["sf"],
        "n_queries": len(timings),
        "cold_total_sec": result["cold_total_sec"],
        "calibration": calibration,
        "queries": slowest,
        "full_record": "bench_out.json",
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
