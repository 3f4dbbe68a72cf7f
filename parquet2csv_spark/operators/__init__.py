from .decode import decode_table, scan_stats
from .encode import (
    CHUNKS_SCHEMA,
    chunk_metrics,
    encode_grouped,
    encode_table,
)
from .verify import multiset_diff, sha256_check

__all__ = [
    "CHUNKS_SCHEMA",
    "chunk_metrics",
    "decode_table",
    "scan_stats",
    "encode_grouped",
    "encode_table",
    "multiset_diff",
    "sha256_check",
]
