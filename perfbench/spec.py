"""Metric and workload names: the single source ``BENCHMARK.json`` mirrors.

Every workload prints every metric of the set its mode asks for. The
end-to-end set is defined per workload by what one timed operation is
(see README.md); a per-layer metric a workload never reaches reads 0.
``EXTRA_WORKLOADS`` run the same way but are not in ``BENCHMARK.json``.
"""

from __future__ import annotations

WORKLOADS = {
    "bm25_serve": "BM25 top-k serving over a 2000-term working set above "
                  "the 256-entry decoded cache, plus the index write path",
    "sketch_serve": "word sketch, BCQL span and KWIC serving over a CoNLL-U "
                    "index whose working set fits the searcher caches",
}
EXTRA_WORKLOADS = {
    "batch_contracts": "12 DataFrame contracts (sketch fan-out, BM25 plan, "
                       "dedup, similarity, collocation operators)",
}

# name -> (unit, better, bound). Latency and throughput get the widest
# bound allowed: a pure-Python burn on a 4-vCPU VM reads 28-36 ms
# from one process to the next, so run-to-run spreads of 0.1-0.15 are
# the machine, not the program.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_ms": ("ms", "lower", 0.25),
    "ops_per_s": ("1/s", "higher", 0.25),
    "driver_rss_mb": ("MB", "lower", 0.1),
}

# name -> unit
PER_LAYER = {
    # every workload
    "error_rate": "share",
    "known_defects": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "sandbox.cpu_burn_s": "s",
    "trace.spans": "count",
    "trace.overhead_s": "s",
    "trace.op_p50_ms": "ms",
    "trace.ops_per_s": "1/s",
    # bm25_serve: serving
    "search_p50_ms": "ms",
    "search_p95_ms": "ms",
    "search_qps": "1/s",
    "query.engine.prefetch_s": "s",
    "query.engine.prefetch_jobs": "count",
    "query.engine.block_fetch_hit_ratio": "share",
    "query.engine.first_touch_share": "share",
    "query.engine.term_dfs_s": "s",
    "query.engine.score_s": "s",
    "query.engine.filtered_doc_ids_s": "s",
    "query.engine.expand_terms_s": "s",
    "query.engine.distinct_terms": "count",
    "query.wand.decoded_blocks": "count",
    "query.wand.block_decode_ratio": "share",
    # bm25_serve: write path (setup builds, then one add_documents)
    "build_docs_per_s": "1/s",
    "add_docs_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
    "index.build.tokens_s": "s",
    "index.build.segments_s": "s",
    "index.build.term_stats_s": "s",
    "index.build.doc_lens_s": "s",
    "index.build.docstore_s": "s",
    "index.build.doc_meta_s": "s",
    "index.build.jobs": "count",
    "index.build.shuffle_write_bytes": "bytes",
    "index.build.segments_task_skew": "ratio",
    "index.segments.codec_postings_per_s": "1/s",
    "index.merge.delta_build_s": "s",
    "index.merge.merge_s": "s",
    "index.merge.bytes_written_per_delta_text_byte": "ratio",
    "index.bytes.tokens_per_text_byte": "ratio",
    "index.bytes.segments_per_text_byte": "ratio",
    "index.bytes.term_stats_per_text_byte": "ratio",
    "index.bytes.doc_lens_per_text_byte": "ratio",
    "index.bytes.docstore_per_text_byte": "ratio",
    "index.bytes.doc_meta_per_text_byte": "ratio",
    # sketch_serve
    "sketch_p50_ms": "ms",
    "cql_p50_ms": "ms",
    "kwic_p50_ms": "ms",
    "plans.cql.parse_cql_s": "s",
    "query.engine.pattern_cost_s": "s",
    "query.engine.pattern_cost_jobs": "count",
    "query.engine.pattern_hits_auto_s": "s",
    "query.engine.pattern_hits_auto_jobs": "count",
    "query.engine.pattern_spans_df_s": "s",
    "plans.relations.word_sketch_patterns_s": "s",
    "query.concordance.kwic_s": "s",
    "query.concordance.kwic_jobs": "count",
    "query.sketch.relation_collocates_s": "s",
    "query.sketch.slowest_relation_s": "s",
    "query.sketch.sketch_jobs": "count",
    "query.sketch.first_touch_share": "share",
}
COMMON_LAYER = dict(list(PER_LAYER.items())[:10])

CONTRACTS = (
    "word_sketch", "word_sketch_conllu", "word_sketch_index_dist",
    "bm25_topk", "bm25_filtered",
    "near_dup_clusters", "minhash_near_dups", "ngram_jaccard",
    "simhash_near_dups", "cosine_near_dups",
    "colloc_logdice", "bigram_counts",
)
BATCH_LAYER = {**COMMON_LAYER, "batch_s": "s"}
for _c in CONTRACTS:
    BATCH_LAYER[f"batch.{_c}_s"] = "s"
    BATCH_LAYER[f"batch.{_c}_construct_s"] = "s"
    BATCH_LAYER[f"batch.{_c}_jobs"] = "count"


def layer_metrics(workload: str) -> dict[str, str]:
    """The per-layer names a traced run of ``workload`` prints."""
    return BATCH_LAYER if workload == "batch_contracts" else PER_LAYER


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` document these names define."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 5,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, (u, b, bd) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": _better(n)}
                      for n, u in PER_LAYER.items()],
    }


def _better(name: str) -> str:
    return "higher" if name.endswith(("_per_s", "_qps", "hit_ratio")) \
        else "lower"
