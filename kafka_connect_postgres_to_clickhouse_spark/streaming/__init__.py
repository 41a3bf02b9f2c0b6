from .operators import (
    deduped_stream,
    sessionized_stream,
    stream_static_join,
    windowed_counts_stream,
)
from .pipeline import (
    bootstrap_pipeline,
    changelog_file_stream,
    compact_state,
    kafka_source,
    prune_state_versions,
    read_state,
    run_cdc_pipeline,
    run_multi_table_pipeline,
    seed_state,
)

__all__ = [
    "bootstrap_pipeline",
    "changelog_file_stream",
    "compact_state",
    "deduped_stream",
    "kafka_source",
    "prune_state_versions",
    "read_state",
    "run_cdc_pipeline",
    "run_multi_table_pipeline",
    "seed_state",
    "sessionized_stream",
    "stream_static_join",
    "windowed_counts_stream",
]
