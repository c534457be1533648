from .incremental import (
    compact_store,
    incremental_dedup_batch,
    maybe_compact_store,
    probe_store,
    stream_signatures,
)

__all__ = [
    "stream_signatures",
    "incremental_dedup_batch",
    "probe_store",
    "compact_store",
    "maybe_compact_store",
]
