from .text import (
    doc_fingerprint,
    quality_score,
    token_count,
    tokenize,
)

__all__ = [
    "doc_fingerprint",
    "quality_score",
    "token_count",
    "tokenize",
]
