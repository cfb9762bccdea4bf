"""Structured Streaming adapters for incremental extraction."""

from .incremental import (  # noqa: F401
    run_available_now,
    run_upsert_stream,
    streaming_extract,
)
