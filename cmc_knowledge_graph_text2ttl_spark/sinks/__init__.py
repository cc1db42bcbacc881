from .ttl import (
    export_per_doc_turtle,
    ntriples_line,
    triples_to_nt_lines,
    write_ntriples,
)

__all__ = [
    "export_per_doc_turtle",
    "ntriples_line",
    "triples_to_nt_lines",
    "write_ntriples",
]
