from .envelope import (
    debezium_value_schema,
    build_envelope_json,
    parse_envelope,
    unwrap,
)
from .upsert import lww_dedup, upsert_batch, apply_changelog

__all__ = [
    "debezium_value_schema",
    "build_envelope_json",
    "parse_envelope",
    "unwrap",
    "lww_dedup",
    "upsert_batch",
    "apply_changelog",
]
