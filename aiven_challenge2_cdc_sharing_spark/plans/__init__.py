from .inspect import (
    explain_str,
    has_broadcast_join,
    has_pushed_filters,
    scan_read_schema,
)

__all__ = [
    "explain_str",
    "has_broadcast_join",
    "has_pushed_filters",
    "scan_read_schema",
]
