"""Names and units of every metric the benchmark reports.

BENCHMARK.json lists the same names; tests/test_metrics.py keeps the two
in step.
"""

WORKLOADS = ("pipeline_mix", "live_tail")

# Scale factor of the generated fixture tables of pipeline_mix.
SCALE = 0.01

# Records per second the live generator produces (see README: rate sweep).
LIVE_RATE = 2000.0

END_TO_END = {
    "setup_s": "s",
    "latency_ms_p50": "ms",
    "latency_ms_p99": "ms",
    "heap_live_mb": "MB",
}

PIPELINE = ["q27_minhash_lsh", "q30_cosine_topk", "q123_editdist_join",
            "q124_jaccard_prefix", "q159_pagerank", "q404_dbscan",
            "q243_sql_dedup_clusters", "q19_asof_join"]
JOIN_YIELD = ["q27_minhash_lsh", "q123_editdist_join", "q124_jaccard_prefix"]
QUERY_METRICS = {"wall_s": "s", "task_s": "s", "plan_s": "s", "jobs": "count",
                 "shuffle_write_bytes": "bytes", "max_join_rows": "rows"}
KERNELS = ["minhash", "simhash", "jaro_winkler", "l2sq", "ngrams"]
SPAN_LAYERS = ["bench", "operators", "spark.job", "spark.stage", "functions",
               "stream.trigger", "stream.phase", "generator"]


def per_layer() -> dict:
    m = {
        "spark.plan_s": "s", "spark.task_idle_s": "s", "spark.jobs": "count",
        "spark.stages": "count", "spark.task_s": "s",
        "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.gc_s": "s",
    }
    for q in PIPELINE:
        for k, unit in QUERY_METRICS.items():
            m[f"operators.{q}.{k}"] = unit
    for q in JOIN_YIELD:
        m[f"operators.{q}.join_yield"] = "ratio"
    for k in KERNELS:
        m[f"functions.{k}_ns"] = "ns"
    m["plans.asof_matched_rows"] = "rows"
    m.update({
        "replay.latest_offset_ms": "ms", "replay.get_batch_ms": "ms",
        "replay.add_batch_ms": "ms", "replay.task_s_per_mrec": "s",
        "replay.dataplane_pages": "count", "replay.dataplane_page_ms_p50": "ms",
        "replay.controlplane_polls": "count",
        "spark.stream.wal_commit_ms": "ms", "spark.stream.commit_offsets_ms": "ms",
        "spark.stream.query_planning_ms": "ms",
        "streaming.state_rows_total": "rows", "streaming.state_commit_ms": "ms",
        "streaming.state_memory_bytes": "bytes",
        "streaming.dedup_dropped_rows": "rows",
        "streaming.rows_dropped_by_watermark": "rows",
        "streaming.lag_records_max": "records",
        "streaming.lag_records_p50": "records",
        "live.generator_serve_ms_p99": "ms",
    })
    for layer in SPAN_LAYERS:
        m[f"self_s.{layer}"] = "s"
    m["tracing.overhead_ms"] = "ms"
    return m
