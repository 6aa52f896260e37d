"""For each per-layer metric: the end-to-end metric it should move and
the workloads that exercise its layer. Names, units and directions are
in BENCHMARK.json, which run.py reads.

A per-layer metric reads 0 on a workload that does not exercise its layer.
"""

from __future__ import annotations

ALL = ("ingest_small_files", "analytics_mix")
INGEST = ("ingest_small_files",)
ANALYTICS = ("analytics_mix",)

# The analytics_mix queries: a frozen copy of the headline set, so that
# edits to the repository's own bench script cannot change the workload.
QUERY_NAMES = (
    "scan_pruned", "agg_group_q1", "join_inner_hash", "join_broadcast",
    "join_asof", "win_rank", "top_n_per_group", "agg_rollup", "text_tfidf",
    "dedup_exact", "sim_search_topk", "stream_tumbling",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
)

# name: (moves end-to-end metric, workloads exercising it)
PER_LAYER = {
    # the cold pass, or one cold call of every query; it repeats only
    # within about 10-40%, so it is reported here rather than end to end
    "first_pass_s": ("setup_s", ALL),
    "session.start_s": ("setup_s", ALL),
    # the benchmark's own CloudTrail generator
    "harness.gen_s": ("setup_s", INGEST),
    # row_count + avg_row_bytes over every table, first and second time
    "stats.cold_ms": ("first_pass_s", ANALYTICS),
    "stats.warm_ms": ("first_pass_s", ANALYTICS),
    # Spark analyses a DataFrame while it is built, so analysis is
    # counted here and in cloudtrail.dispatch_unwrap_ms
    "registry.build_ms": ("first_pass_s latency_p50_ms", ANALYTICS),
    # forced through queryExecution() in the traced steps
    "spark.optimize_ms": ("latency_p50_ms", ALL),
    "spark.plan_ms": ("latency_p50_ms", ALL),
    "spark.exec_collect_ms": ("ops_per_s cpu_ms_per_op", ANALYTICS),
    **{f"query.{q}.p50_ms": ("ops_per_s cpu_ms_per_op", ANALYTICS) for q in QUERY_NAMES},
    # medians per batch of the streaming query's durationMs
    **{
        f"stream.{k}_ms": ("latency_p50_ms ops_per_s", INGEST)
        for k in ("latest_offset", "get_batch", "query_planning", "add_batch",
                  "wal_commit", "commit_offsets", "trigger_execution")
    },
    "stream.checkpoint_bytes_per_batch": ("latency_p50_ms", INGEST),
    "cloudtrail.dispatch_unwrap_ms": ("latency_p50_ms", INGEST),
    "sinks.deliver_ms": ("ops_per_s", INGEST),
    "sinks.deliver_us_per_record": ("ops_per_s", INGEST),
    # median of sinks.deliver_ms minus the batch's records at the kernel rate
    "sinks.deliver_floor_ms": ("latency_p50_ms", INGEST),
    # put_records_chunked alone on the largest file's records
    "sinks.kernel_rec_per_s": ("ops_per_s", INGEST),
    "sinks.retry_share": ("cpu_ms_per_op", INGEST),
    "sinks.spool_bytes_per_record": ("cpu_ms_per_op", INGEST),
    # (median triggerExecution - addBatch + deliver floor) / median
    # triggerExecution: the share of a batch that does not grow with records
    "ingest.per_batch_share": ("latency_p50_ms", INGEST),
    # median per-record kernel time of a batch / median triggerExecution
    "ingest.per_record_share": ("ops_per_s", INGEST),
    # distinct pyspark daemon and worker processes seen
    "python.worker_spawns": ("setup_s", ALL),
    # timed phase, from the JVM management beans; a large jit_ms marks an
    # under-warmed run
    "jvm.jit_ms": ("cpu_ms_per_op", ALL),
    "jvm.gc_ms": ("cpu_ms_per_op", ALL),
    "host.steal_ms": ("none: host contention during the timed phase", ALL),
    "host.load1": ("none: host load average at start", ALL),
    "host.dropped_steps": ("none: timed steps dropped for steal time", ALL),
    "trace.ops_per_s": ("none: traced throughput", ALL),
    "trace.overhead_share": ("none: 1 - traced/untraced ops_per_s", ALL),
}
