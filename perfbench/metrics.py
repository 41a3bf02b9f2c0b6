"""Metric names, units and directions — the lists ``BENCHMARK.json``
declares.  Every workload reports every metric: end-to-end metrics
keep one meaning per workload (see README.md), and a per-layer metric
of a layer a workload does not run reads 0."""

from __future__ import annotations

import re

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_ms_p50", "ms", "lower", 0.25),
    ("read_ms_p50", "ms", "lower", 0.25),
    ("rate_per_s", "1/s", "higher", 0.25),
]

# (name, unit, better)
PER_LAYER = [
    ("pipeline.trigger_ms", "ms", "lower"),
    ("pipeline.add_batch_ms", "ms", "lower"),
    ("pipeline.planning_ms", "ms", "lower"),
    ("pipeline.offset_log_ms", "ms", "lower"),
    ("pipeline.source_list_ms", "ms", "lower"),
    ("pipeline.batches", "count", "lower"),
    ("pipeline.rows_in", "count", "higher"),
    ("envelope.parse_ms_per_batch", "ms", "lower"),
    ("envelope.rows_per_s", "1/s", "higher"),
    ("envelope.corrupt_rows", "count", "lower"),
    ("envelope.wire_bytes_per_event", "B", "lower"),
    ("upsert.dedup_ms_per_batch", "ms", "lower"),
    ("upsert.rows_in", "count", "lower"),
    ("upsert.rows_out", "count", "lower"),
    ("upsert.collapse_ratio", "ratio", "lower"),
    ("state.read_ms", "ms", "lower"),
    ("state.rows_rewritten_per_event", "ratio", "lower"),
    ("state.bytes_written_per_batch", "B", "lower"),
    ("state.buckets_touched_frac", "ratio", "lower"),
    ("state.files_per_read", "count", "lower"),
    ("state.versions_on_disk", "count", "lower"),
    ("state.seed_s", "s", "lower"),
    ("state.disk_mb", "MB", "lower"),
    ("route.tables_per_batch", "count", "higher"),
    ("route.add_batch_ms_per_table", "ms", "lower"),
    ("spark.jobs_per_batch", "count", "lower"),
    ("spark.tasks_per_batch", "count", "lower"),
    ("spark.shuffle_mb_per_batch", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.busy_frac", "ratio", "higher"),
    ("query.pipeline_ms", "ms", "lower"),
    ("query.relational_ms", "ms", "lower"),
    ("query.window_ms", "ms", "lower"),
    ("query.analytics_ms", "ms", "lower"),
    ("query.extended_ms", "ms", "lower"),
    ("query.materialize_ms", "ms", "lower"),
    ("run.failed_frac", "ratio", "lower"),
    ("run.peak_rss_mb", "MB", "lower"),
]

# What a run prints for its workload, beside the contract lines:
# workload -> [(name, source value, unit)].  Sources are the end-to-end
# metrics plus the tails ``op_ms_tail`` and ``read_ms_tail`` (printed
# with percentile and sample count), ``trigger_ms_p50``, ``mix_s``,
# ``state_disk_mb`` and ``failed_frac``.
REPORT = {
    "cdc_catchup_live": [
        ("ingest_eps", "rate_per_s", "events/s"),
        ("catchup_trigger_ms_p50", "trigger_ms_p50", "ms"),
        ("commit_ms_p50", "op_ms_p50", "ms"),
        ("commit_ms_tail", "op_ms_tail", "ms"),
        ("read_ms_p50", "read_ms_p50", "ms"),
        ("read_ms_tail", "read_ms_tail", "ms"),
        ("setup_s", "setup_s", "s"),
        ("state_disk_mb", "state_disk_mb", "MB"),
        ("peak_rss_mb", "peak_rss_mb", "MB"),
        ("failed_frac", "failed_frac", "ratio"),
    ],
    "registry_queries": [
        ("query_ms_p50", "op_ms_p50", "ms"),
        ("query_ms_tail", "op_ms_tail", "ms"),
        ("mix_s", "mix_s", "s"),
        ("setup_s", "setup_s", "s"),
        ("peak_rss_mb", "peak_rss_mb", "MB"),
        ("failed_frac", "failed_frac", "ratio"),
    ],
}
