from .algebra import (
    check_constraints,
    from_wire_quarantine,
    filter_source_table,
    from_wire,
    to_wire,
    unwrap,
)
from .generator import generate_customer_rows, generate_envelope_log
from .materialize import apply_changes, latest_snapshot, snapshot_at
from .scd2 import scd2_history

__all__ = [
    "apply_changes",
    "check_constraints",
    "filter_source_table",
    "from_wire",
    "from_wire_quarantine",
    "generate_customer_rows",
    "generate_envelope_log",
    "latest_snapshot",
    "scd2_history",
    "snapshot_at",
    "to_wire",
    "unwrap",
]
