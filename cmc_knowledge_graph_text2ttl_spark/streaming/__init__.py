from .ingest import (
    read_pages_stream,
    stream_triples,
)

__all__ = [
    "read_pages_stream",
    "stream_triples",
]
