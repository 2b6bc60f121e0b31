"""Every metric the benchmark reports: name, unit, better direction, and
for per-layer metrics the end-to-end metric each should move, on which
workload.  ``BENCHMARK.json`` at the repository root mirrors the
``E2E`` and ``PER_LAYER`` tables (checked by ``test_perfbench.py``).

End-to-end metrics are defined on every workload, because every run
reports all of them.  ``op_p50_ms`` and ``items_per_s`` are each
workload's headline pair:

==============  ===============================  =========================
workload        op_p50_ms                        items_per_s
==============  ===============================  =========================
corpus_build    one precompute + index build     docs curated per second
                (``build_docs_per_s`` and        (``curate_docs_per_s``)
                ``index_docs_per_s`` split it;
                one build per run while a build
                outlasts ``run_seconds``)
serve_ingest    one warm ``Bm25Index.search``    docs written per second
                (``search_p50_ms``, at least 20  (add/upsert/delete calls
                searches)                        plus compaction time,
                                                 ``write_docs_per_s``)
==============  ===============================  =========================

The remaining workload figures (``search_p90_ms``, ``batch_search_qps``,
``engine_search_p50_ms``, ``search_under_writes_p50_ms``,
``index_bytes_per_input_byte``, ``peak_rss_mb``, ``ops_failed_frac`` ...)
are printed by name and unit above the result line of each untraced run.
``search_p90_ms`` is the highest percentile with at least ten samples
beyond it, up to p90; ``search_p90_ms_is_percentile`` says which one it
is (p50 at the 20 warm searches a run takes at today's speed).
``peak_rss_mb`` (JVM plus Python high-water marks) is not gated: the
JVM's heap growth follows GC timing and moved 12-23% between runs of
one seed.  Failed operations are the result's ``failed`` count.
"""

from __future__ import annotations

# name, unit, better, bound (share of the parent's median)
E2E = (
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
)

B = C = "corpus_build"  # build and curation layers
S = I = "serve_ingest"  # read and write layers
ALL = (B, S)

# name, unit, better, moves [(end-to-end metric as named per workload, workload)]
PER_LAYER = (
    ("session.start_s", "s", "lower", [("setup_s", w) for w in ALL]),
    ("sources.scan_s", "s", "lower", [("build_docs_per_s", B)]),
    ("tokenize.s", "s", "lower", [("build_docs_per_s", B), ("write_docs_per_s", I)]),
    ("tokenize.tokens_per_s", "1/s", "higher", [("build_docs_per_s", B)]),
    ("tf.s", "s", "lower", [("build_docs_per_s", B)]),
    ("tf.rows", "count", "lower", [("build_docs_per_s", B)]),
    ("tf.topk_s", "s", "lower", [("build_docs_per_s", B)]),
    ("df_idf.s", "s", "lower", [("build_docs_per_s", B)]),
    ("df_idf.words", "count", "lower", [("build_docs_per_s", B)]),
    ("pipeline.fit_s", "s", "lower", [("build_docs_per_s", B)]),
    ("sinks.tf_vectors_s", "s", "lower", [("build_docs_per_s", B)]),
    ("sinks.bytes", "bytes", "lower", [("index_bytes_per_input_byte", B)]),
    ("serving.save_s", "s", "lower", [("index_docs_per_s", B)]),
    ("serving.forward_s", "s", "lower", [("index_docs_per_s", B)]),
    ("serving.files", "count", "lower", [("index_docs_per_s", B), ("index_bytes_per_input_byte", B)]),
    ("serving.bytes", "bytes", "lower", [("index_bytes_per_input_byte", B)]),
    ("api.warm_s", "s", "lower", [("setup_s", S), ("search_under_writes_p50_ms", I)]),
    ("api.search_warm_hot_ms", "ms", "lower", [("search_p50_ms", S), ("search_p90_ms", S)]),
    ("api.search_warm_tail_ms", "ms", "lower", [("search_p50_ms", S), ("search_p90_ms", S)]),
    ("serving.buckets_per_query", "count", "lower", [("search_p50_ms", S)]),
    ("spark.jobs_per_search", "count", "lower", [("search_p50_ms", S), ("search_p90_ms", S)]),
    ("spark.stages_per_search", "count", "lower", [("search_p50_ms", S)]),
    ("spark.tasks_per_search", "count", "lower", [("search_p50_ms", S)]),
    ("serving.batch_topk_s", "s", "lower", [("batch_search_qps", S)]),
    ("spark.jobs_per_batch_search", "count", "lower", [("batch_search_qps", S)]),
    ("bm25.rank_ms", "ms", "lower", [("engine_search_p50_ms", B)]),
    ("spark.jobs_per_rank", "count", "lower", [("engine_search_p50_ms", B)]),
    ("serving.add_s", "s", "lower", [("write_docs_per_s", I)]),
    ("serving.upsert_s", "s", "lower", [("write_docs_per_s", I)]),
    ("serving.delete_s", "s", "lower", [("write_docs_per_s", I)]),
    ("serving.compact_s", "s", "lower", [("write_docs_per_s", I)]),
    ("spark.jobs_per_add", "count", "lower", [("write_docs_per_s", I)]),
    ("spark.jobs_per_upsert", "count", "lower", [("write_docs_per_s", I)]),
    ("spark.jobs_per_delete", "count", "lower", [("write_docs_per_s", I)]),
    ("spark.jobs_per_compact", "count", "lower", [("write_docs_per_s", I)]),
    ("serving.topk_cold_ms", "ms", "lower", [("search_under_writes_p50_ms", I)]),
    ("serving.files_max", "count", "lower", [("search_under_writes_p50_ms", I)]),
    ("serving.tombstones_max", "count", "lower", [("search_under_writes_p50_ms", I)]),
    ("spark.jobs_per_cold_search", "count", "lower", [("search_under_writes_p50_ms", I)]),
    ("api.curate_batch_s", "s", "lower", [("curate_docs_per_s", C)]),
    ("dedup.signatures_s", "s", "lower", [("curate_docs_per_s", C)]),
    ("dedup.pairs_s", "s", "lower", [("curate_docs_per_s", C)]),
    ("dedup.candidate_pairs", "count", "lower", [("curate_docs_per_s", C)]),
    ("dedup.verified_pairs", "count", "higher", [("curate_docs_per_s", C)]),
    ("dedup.verify_yield", "ratio", "higher", [("curate_docs_per_s", C)]),
    ("text_analysis.quality_s", "s", "lower", [("curate_docs_per_s", C)]),
    ("decontam.overlap_s", "s", "lower", [("curate_docs_per_s", C)]),
    ("dedup.recall_vs_ledger", "ratio", "higher", [("ops_failed_frac", C)]),
    ("spark.failed_tasks", "count", "lower", [("ops_failed_frac", w) for w in ALL]),
    ("proc.jvm_rss_mb", "MB", "lower", [("peak_rss_mb", w) for w in ALL]),
    ("proc.python_rss_mb", "MB", "lower", [("peak_rss_mb", w) for w in ALL]),
    ("trace.overhead_s", "s", "lower", []),
    ("trace.overhead_frac", "ratio", "lower", []),
    ("ops_failed_frac", "ratio", "lower", []),
)

UNITS = {name: unit for name, unit, *_ in E2E + PER_LAYER}


def benchmark_entries() -> tuple[list[dict], list[dict]]:
    """The ``end_to_end`` and ``per_layer`` lists of ``BENCHMARK.json``."""
    e2e = [{"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in E2E]
    layers = [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER]
    return e2e, layers
