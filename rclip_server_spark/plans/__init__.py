from . import serving
from .combinator import resolve_query
from .embedder import DeterministicEmbedder, Embedder, get_default_embedder
from .parser import Term, parse_query

__all__ = [
    "serving",
    "Term",
    "parse_query",
    "resolve_query",
    "Embedder",
    "DeterministicEmbedder",
    "get_default_embedder",
]
