from .inspect import explain_str

__all__ = ["explain_str"]
