from .normalize import clean, search_key, unaccent
from .scoring import (
    canonical_sort_key,
    is_compilation_expr,
    is_main_album_expr,
    is_single,
    is_soundtrack_expr,
    relevance_generation,
    relevance_query,
)

__all__ = [
    "unaccent",
    "search_key",
    "clean",
    "canonical_sort_key",
    "relevance_generation",
    "relevance_query",
    "is_main_album_expr",
    "is_compilation_expr",
    "is_soundtrack_expr",
    "is_single",
]
