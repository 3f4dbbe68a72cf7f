from .decode import decode_table, prune_chunks_long, prune_chunks_str, scan_stats
from .encode import (
    CHUNKS_SCHEMA,
    chunk_metrics,
    encode_grouped,
    encode_table,
)
from .verify import is_bit_identical, multiset_diff, sha256_check

__all__ = [
    "CHUNKS_SCHEMA",
    "chunk_metrics",
    "decode_table",
    "prune_chunks_long",
    "prune_chunks_str",
    "scan_stats",
    "encode_grouped",
    "encode_table",
    "is_bit_identical",
    "multiset_diff",
    "sha256_check",
]
