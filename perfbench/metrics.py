"""Names and units of every metric the benchmark prints. BENCHMARK.json
lists the same names; perfbench/tests checks that the two agree."""

DEDUP_ROWS = ["dedup_minhash_lsh", "dedup_simhash64", "dedup_simhash_star",
              "dedup_minhash_star", "media_phash_pairs", "media_phash_star"]

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "first_result_s": "s",
    "step_s_p50": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "engine.crawl_frontier_s": "s",
    "engine.jobs_per_round": "count",
    "engine.stages_per_round": "count",
    "engine.tasks_per_round": "count",
    "engine.driver_only_s": "s",
    "engine.install_s": "s",
    "engine.seen_probe_s": "s",
    "engine.admit_ratio": "ratio",
    "parse.pages_per_s": "1/s",
    "parse.task_s": "s",
    "parse.spans_out": "count",
    "urls.canonicalize_rows_per_s": "1/s",
    "seq.global_seq_s": "s",
    "seq.calls": "count",
    "bloom.build_s": "s",
    "bloom.builds": "count",
    "tables.commit_s": "s",
    "tables.read_s": "s",
    "tables.bytes_per_round": "bytes",
    "tables.files_per_round": "count",
    **{f"dedup.{r}_s": "s" for r in DEDUP_ROWS},
    "dedup.exchanges": "count",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.spill_bytes": "bytes",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "leaked_cached_rdds": "count",
    "storage.cached_mb_after": "MB",
    "trace.uncovered_s": "s",
    "trace.op_wall_s": "s",
    "trace.overhead_s": "s",
}
