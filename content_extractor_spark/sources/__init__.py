"""Source/sink adapters (Iceberg when a catalog is configured, parquet
fallback otherwise)."""

from .io import apply_entry_actions, read_table  # noqa: F401
