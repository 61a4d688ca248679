from .joins import asof_join, range_join
from .topk import top_k_per_group

__all__ = ["asof_join", "range_join", "top_k_per_group"]
