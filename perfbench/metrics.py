"""The metric catalogue: names and units the result line carries."""

#: the ``plans.relational`` named query in the lending read mix
RELATIONAL = "q01_pricing_summary"

#: end-to-end metrics, every workload (see BENCHMARK.json)
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "peak_rss_mb": "MB",
}

#: per-layer metrics, every workload; a layer the workload does not
#: call reports 0. ``*_s`` is the median duration of one call of the
#: span of that name, in the set-ups and the timed region (warm-up ops
#: are not traced); the rest come from public return values.
LAYER_UNITS = {
    "session.get_session_s": "s",
    "sources.readers.read_csv_s": "s",
    "sources.readers.load_table_s": "s",
    "etl.bronze_s": "s",
    "etl.silver_s": "s",
    "etl.gold_s": "s",
    "sources.catalog.sql_s": "s",
    "sources.catalog.sql_calls": "count",
    f"plans.relational.{RELATIONAL}_s": "s",
    "sources.lakehouse.merge_s": "s",
    "sources.lakehouse.delete_s": "s",
    "sources.lakehouse.update_s": "s",
    "sources.lakehouse.read_s": "s",
    "sources.lakehouse.read_version_as_of_s": "s",
    "sources.lakehouse.write_s": "s",
    "sources.lakehouse.files_rewritten_per_merge": "count",
    "sources.lakehouse.files_touched_per_delete": "count",
    "sources.lakehouse.log_versions_end": "count",
    "sources.lakehouse.active_files_end": "count",
    "sources.skipping.files_read_ratio": "ratio",
    "streaming.autoloader.resolve_schema_s": "s",
    "streaming.autoloader.write_batch_s": "s",
    "streaming.autoloader.batches": "count",
    "streaming.autoloader.rows_per_batch": "count",
    "streaming.autoloader.replayed_batches": "count",
    "streaming.autoloader.trigger_wait_s": "s",
    "generator.late_ms": "ms",
    "backlog_files_end": "count",
    "operators.dedup.exact_dedup_s": "s",
    "operators.dedup.minhash_lsh_pairs_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.lsh_precision": "ratio",
    "operators.similarity.cosine_pairs_blocked_s": "s",
    "operators.similarity.pairs_scored": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
}
