"""What each workload runs, and the static query -> module tag table.

``SparkEntry`` composes the engine's modules inside each query, so a query
cannot be attributed to a module from outside the program. ``TAGS`` names
the module whose public call does the query's characteristic work; the
traced run sums per-operation time by this tag (``<module>.self_ms``).
"""

WORKLOADS = ("hive_pipeline", "query_mix")

# hive_pipeline inputs: ``seed % HIVE_VARIANTS`` picks one of the recorded
# input variants (reference.json holds each variant's fingerprints).
HIVE_VARIANTS = 4
HIVE_SIZE = {"hives": 16, "days": 20, "readings_per_day": 96}

# One pipeline pass, in call order (see jvm/.../Main.scala HiveOps).
HIVE_STEPS = ("hive.read", "hive.population_features", "hive.hive_split",
              "hive.classify_and_evaluate", "hive.summer_aggregates",
              "hive.window_sequences", "hive.sequence_scaler_stats")

MODULES = ("operators", "functions", "metrics", "ml", "streaming", "sql_text",
           "sources", "pipelines")

# query -> module: quick queries at sf0.1 on local[4] (about 0.2 s alone),
# the SQL-text surface, two streaming replays (CDC and Welch moments), and
# the two writes: q86 materializes a windowed stream to parquet, q397
# round-trips ORC.
QUERY_TAGS = {
    "q11_dedup_exact": "operators",
    "q13_quality_score": "operators",
    "q15_cosine_scores": "operators",
    "q16_knn_topk": "operators",
    "q112_skew_report": "operators",
    # functions: Stats, VectorSimilarity and built-in expressions
    "q02_filter_project": "functions",
    "q10_topk": "functions",
    "q32_scalar_funcs": "functions",
    "q87_sql_surface": "functions",
    "q18_confusion": "metrics",
    "q121_ab_ztest": "metrics",
    "q95_feature_corr": "ml",
    "q73_stream_cdc": "streaming",
    "q275_stream_welch": "streaming",
    "q86_materialize": "streaming",
    "q414_sql_topk": "sql_text",
    "q397_orc_roundtrip": "sources",
}
QUERY_MIX = tuple(QUERY_TAGS)

TAGS = dict(QUERY_TAGS, **{
    "hive.read": "sources",
    "hive.population_features": "pipelines",
    "hive.hive_split": "pipelines",
    "hive.classify_and_evaluate": "ml",
    "hive.summer_aggregates": "pipelines",
    "hive.window_sequences": "pipelines",
    "hive.sequence_scaler_stats": "pipelines",
})

END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_qps": "1/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MiB",
}

PER_LAYER_UNITS = dict({
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.task_wait_ms": "ms",
    "exec.core_busy_frac": "fraction",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "exec.gc_ms": "ms",
    "sources.read_ms": "ms",
    "pipelines.population_features_ms": "ms",
    "pipelines.hive_split_ms": "ms",
    "pipelines.summer_aggregates_ms": "ms",
    "pipelines.window_sequences_ms": "ms",
    "pipelines.sequence_scaler_stats_ms": "ms",
    "ml.classify_and_evaluate_ms": "ms",
    "pipeline.pass_self_ms": "ms",
    "pipelines.sensor_rows_per_s": "rows/s",
    "entry.build_ms": "ms",
    "entry.consume_ms": "ms",
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "trace.overhead_frac": "fraction",
    "failed_frac": "fraction",
}, **{f"{m}.self_ms": "ms" for m in MODULES})
