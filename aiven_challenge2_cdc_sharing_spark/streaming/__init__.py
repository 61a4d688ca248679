from .incremental import (
    apply_agg_deltas,
    classification_deltas,
    run_incremental_counts,
)
from .cep import streaming_journey_patterns, streaming_purchase_conversion
from .sessions import (
    streaming_heavy_hitters,
    streaming_interval_coverage,
    streaming_sessionize,
)
from .fanout import run_shared_serving
from .ingest import run_dedup_ingest
from .runtime import (
    envelope_file_stream,
    peek_one,
    progress_summary,
    read_snapshot,
    run_snapshot_maintenance,
    windowed_counts,
)
from .sinks import write_once_per_batch
from .stateful import running_user_profiles

__all__ = [
    "apply_agg_deltas",
    "classification_deltas",
    "envelope_file_stream",
    "peek_one",
    "progress_summary",
    "read_snapshot",
    "run_dedup_ingest",
    "run_shared_serving",
    "streaming_heavy_hitters",
    "streaming_interval_coverage",
    "run_incremental_counts",
    "run_snapshot_maintenance",
    "running_user_profiles",
    "streaming_journey_patterns",
    "streaming_purchase_conversion",
    "streaming_sessionize",
    "windowed_counts",
    "write_once_per_batch",
]
