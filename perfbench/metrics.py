"""Metric names and units, in the order BENCHMARK.json lists them."""

END_TO_END = {
    "items_per_s": "1/s",
    "round_p50_s": "s",
    "setup_s": "s",
    "driver_rss_mb": "MB",
}

PHASES = ("robots_fetch", "fetch_stage", "results_submit", "seed_check",
           "parse_canon_antijoin", "frontier_write", "bloom_add",
           "bloom_save", "write_join")

PER_LAYER = {
    # plans.crawl
    "crawl.rounds": "count",
    **{f"crawl.phase.{p}_s": "s" for p in PHASES},
    "crawl.untracked_s": "s",
    "crawl.jobs_per_round": "count",
    # sources.fetch
    "fetch.s": "s",
    "fetch.rows": "count",
    # operators.parse
    "parse.s": "s",
    "parse.pages": "count",
    "parse.links": "count",
    "parse.links_per_s": "1/s",
    # functions.canonical
    "canon.s": "s",
    "canon.urls": "count",
    # operators.partitioning
    "partition.max_over_mean": "ratio",
    # operators.seen
    "seen.antijoin_s": "s",
    "seen.cand_rows": "count",
    "seen.new_rows": "count",
    "seen.exact_probe_rows": "count",
    "seen.bloom_fp_rate": "ratio",
    "bloom.add_s": "s",
    "cuckoo.delete_s": "s",
    "seen.expire_s": "s",
    # operators.robots
    "robots.fetch_s": "s",
    "robots.gate_s": "s",
    "robots.rows_in": "count",
    "robots.allowed_rows": "count",
    # operators.politeness
    "politeness.s": "s",
    "politeness.scheduled_rows": "count",
    "politeness.deferred_rows": "count",
    # plans.tables
    "store.append_s": "s",
    "store.append_mb": "MB",
    "store.commit_s": "s",
    "store.read_seen_s": "s",
    "store.compact_s": "s",
    "store.data_files": "count",
    # Spark engine, from the event log of the traced operation
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    # payload/curation
    "images.validate_s": "s",
    "images.rows": "count",
    "dedup.phash_pairs_s": "s",
    "dedup.phash_pairs": "count",
    "dedup.cc_s": "s",
    "neardup.survivors_s": "s",
    "neardup.survivors": "count",
    "semdedup.s": "s",
    "semdedup.survivors": "count",
    # the measurement itself
    "trace_overhead_frac": "ratio",
    "host.probe_s": "s",
}
