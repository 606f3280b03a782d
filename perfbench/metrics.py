"""Metric names and units: what an untraced run reports (end to end) and
what a traced run reports (per layer). BENCHMARK.json lists the same names;
``python3 perfbench/selftest.py schema`` checks that the two agree."""

from __future__ import annotations

from heads import HEAD_METRICS, HEADS

# every workload reports all of these; none is ever 0.
# setup_s: median time to build one repetition's inputs.
# wall_s: median wall of one unit of work (one run_pipeline, or one pass
#   over the query heads).
# peak_python_rss_mb: summed RSS high-water marks of the program's Python
#   processes (driver and Spark's Python workers) while timed. The JVM's
#   RSS follows G1's heap sizing and swung +-15% between identical runs, so
#   it and the total are reported in the run's table but not gated.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "peak_python_rss_mb": ("MB", "lower"),
}

# read_mb: input bytes of the layer's Spark jobs, source and sink scans
# together (the ingest source is a parquet table). in_flight_*: as the fake
# API observes them; ratio = mean / (partitions x max_concurrent_requests).
# run_rows_per_s, client_overhead_ms_p50: the no-Spark run_rows probe.
_LAYERS = [
    ("orchestrator.driver_gap_s", "s", "lower"),
    ("orchestrator.spark_jobs", "count", "lower"),
    ("batch_processor.jobs", "count", "lower"),
    ("batch_processor.diff_s", "s", "lower"),
    ("batch_processor.read_mb", "MB", "lower"),
    ("batch_handler.process_s", "s", "lower"),
    ("batch_handler.read_mb", "MB", "lower"),
    ("batch_handler.sink_bytes_per_row", "B", "lower"),
    ("partition_executor.in_flight_max", "count", "higher"),
    ("partition_executor.in_flight_mean", "count", "higher"),
    ("partition_executor.in_flight_ratio", "ratio", "higher"),
    ("partition_executor.http_busy_s", "s", "lower"),
    ("request_execution.run_rows_per_s", "1/s", "higher"),
    ("request_execution.client_overhead_ms_p50", "ms", "lower"),
    ("request_execution.api_calls_per_row", "ratio", "lower"),
    ("request_execution.request_p50_ms", "ms", "lower"),
    ("request_execution.request_p99_ms", "ms", "lower"),
    ("transport.connections_opened", "count", "lower"),
    ("middleware.retry.retried_share", "ratio", "lower"),
    ("middleware.retry.attempts_max", "count", "lower"),
    ("auth.token_grants", "count", "lower"),
    ("auth.unauthorized_share", "ratio", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("proc.jvm_cpu_s", "s", "lower"),
    ("proc.python_workers_cpu_s", "s", "lower"),
    ("proc.driver_python_cpu_s", "s", "lower"),
    ("proc.fake_api_cpu_s", "s", "lower"),
]
_HEAD_UNITS = {
    "wall_s": "s", "jobs": "count", "executor_run_s": "s", "executor_cpu_s": "s",
    "python_workers_cpu_s": "s", "shuffle_write_mb": "MB", "driver_gap_s": "s",
}

# a traced run reports all of these; a layer the workload does not use
# reports 0
PER_LAYER = {name: (unit, better) for name, unit, better in _LAYERS}
for _h in HEADS:
    for _m in HEAD_METRICS:
        PER_LAYER[f"query.{_h}.{_m}"] = (_HEAD_UNITS[_m], "lower")
