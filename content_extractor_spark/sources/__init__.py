"""Source/sink adapters: table reads, the entries write, the WARC and
CDX connectors."""

from .io import apply_entry_actions, read_table  # noqa: F401
