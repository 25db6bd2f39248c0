"""Source/sink connectors (SURVEY §2.1 S1-S7)."""

from .io import (  # noqa: F401
    normalize_posts,
    read_csv,
    read_jsonl,
    write_jsonl,
)
