from .algebra import (
    from_wire_quarantine,
    from_wire,
    to_wire,
    unwrap,
)
from .generator import generate_customer_rows, generate_envelope_log
from .materialize import apply_changes, latest_snapshot
from .scd2 import scd2_history

__all__ = [
    "apply_changes",
    "from_wire",
    "from_wire_quarantine",
    "generate_customer_rows",
    "generate_envelope_log",
    "latest_snapshot",
    "scd2_history",
    "to_wire",
    "unwrap",
]
