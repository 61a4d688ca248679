from .runtime import (
    envelope_file_stream,
    peek_one,
    progress_summary,
    read_snapshot,
    run_snapshot_maintenance,
)

__all__ = [
    "envelope_file_stream",
    "peek_one",
    "progress_summary",
    "read_snapshot",
    "run_snapshot_maintenance",
]
