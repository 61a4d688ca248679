from .joins import asof_join
from .topk import top_k_per_group

__all__ = ["asof_join", "top_k_per_group"]
