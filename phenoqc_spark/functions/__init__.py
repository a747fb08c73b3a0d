from .text import extract_text, normalize_terms
from .linking import link_distinct_terms

__all__ = [
    "extract_text",
    "normalize_terms",
    "link_distinct_terms",
]
