"""Names shared by the runners, the tracer and ``BENCHMARK.json``: the
headline queries, the wrapped engine methods and every metric with its
unit.  Imports nothing from the engine."""

# The nine headline queries of the frozen bench.py, with the engine module
# that builds each one.
HEADLINE = (
    ("pricing_summary", "relational"),
    ("top_orders_by_revenue", "relational"),
    ("nation_revenue", "relational"),
    ("event_sequencing", "relational"),
    ("customers_single_priority", "relational"),
    ("dedup_exact", "dedup"),
    ("dedup_minhash_lsh", "dedup"),
    ("text_token_stats", "textops"),
    ("similarity_cosine_topk", "similarity"),
)
# Public CdcEngine methods timed as the ingest layer.
INGEST_METHODS = ("ingest", "maintain", "watermark")
# Public LakeTable methods timed as the lakehouse layer.
LAKEHOUSE_METHODS = (
    "adopt_merge", "append_arrow", "read_where", "changes",
    "compact_files", "expire_snapshots", "merge_upsert",
)

# End-to-end metrics: name -> unit.  Every workload reports every one.
E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "op_ptail_s": "s",
    "cold_s": "s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics measured separately for each phase of ``ingest``.
_PHASE_METRICS = {
    "ingest.{p}.calls": "count",
    "ingest.{p}.busy_s": "s",
    "ingest.{p}.epochs": "count",
    "ingest.{p}.epoch_wall_p50_s": "s",
    "ingest.{p}.spark_jobs_per_commit": "count",
    "fold.{p}.kernel_s": "s",
    "fold.{p}.tasks": "count",
    "fold.{p}.task_max_s": "s",
    "fold.{p}.task_skew": "ratio",
    "fold.{p}.non_kernel_s": "s",
    "fold.{p}.kernel_share": "ratio",
    "saltfold.{p}.salted_fold_plans": "count",
    "lakehouse.{p}.snapshots_per_commit": "count",
    "lakehouse.{p}.rows_rewritten_per_event": "ratio",
    "lakehouse.{p}.bytes_written_per_event": "B",
    "spark.{p}.executor_run_s": "s",
    "spark.{p}.jobs": "count",
}

# Per-layer metrics: name -> unit.  A layer a workload does not load reads 0.
# ``<layer>.backfill.*`` and ``<layer>.tail.*`` split the ingest workload's
# two phases; unsplit spark/driver/lakehouse-call metrics cover the whole
# traced phase of either workload.
LAYER = {
    "session.get_spark_s": "s",
    "session.prewarm_s": "s",
    "changelog.synth_s": "s",
    "changelog.to_spark_s": "s",
    "bench.gen_tables_s": "s",
    **{k.format(p=p): u for p in ("backfill", "tail") for k, u in _PHASE_METRICS.items()},
    "ingest.tail.warmup_commit_s": "s",
    "ingest.maintain_s": "s",
    "ingest.watermark_s": "s",
    "ingest.fallback_epochs": "count",
    "saltfold.hot_keys": "count",
    **{f"lakehouse.{m}_s": "s" for m in LAKEHOUSE_METHODS},
    **{f"lakehouse.{m}_calls": "count" for m in LAKEHOUSE_METHODS},
    "lakehouse.live_files": "count",
    "lakehouse.cdf_read_p50_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.core_busy_ratio": "ratio",
    "driver.cpu_s": "s",
    "driver.py4j_calls": "count",
    **{f"{m}.{q}.{k}": "s" for q, m in HEADLINE for k in ("plan_s", "exec_s", "cold_s")},
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "trace_overhead_ratio": "ratio",
    "failed_ops_ratio": "ratio",
}
