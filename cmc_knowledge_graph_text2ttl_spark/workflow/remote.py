"""Remote-graph ``select:`` — batch prefetch instead of per-row HTTP.

The reference dispatches ``select:`` by the graph id's URL shape: a
local rdflib graph for plain names, a Stardog SPARQL HTTP endpoint for
``http(s)://`` ids (text_to_turtle_processor.py:156-164, 233-327). Per-
document HTTP is banned at 10^12-document scale, so the engine's
equivalent is a **batch prefetch**: each remote graph is paged down ONCE
on the driver (LIMIT/OFFSET paging, bounded pages), materialized as the
same ``GraphRow`` list a local graph uses, and broadcast — after which
every ``select:`` (including per-document dynamic ``where:`` clauses,
FILTER, OPTIONAL) evaluates locally in the UDF against the broadcast
MiniGraph. The relational reading: the remote graph is a dimension
table; prefetch + broadcast turns N-per-row lookups into one broadcast
hash join.

The HTTP transport is injectable (this sandbox has no network); the
default uses urllib with SPARQL-results-JSON, the wire format Stardog
serves.
"""

from __future__ import annotations

import json
import re
from typing import Callable, Dict, List, Optional

from ..core.errors import ProcessorException
from .sparql import GraphRow, parse_ttl

# transport(endpoint_url, sparql_query) -> SPARQL-results-JSON dict
Transport = Callable[[str, str], dict]

_REMOTE_URL = re.compile(r"(?i)^https?://")

# ORDER BY makes LIMIT/OFFSET paging well-defined: SPARQL endpoints give
# no stable order across separate queries, so an unordered dump can
# overlap or miss triples between pages.
DUMP_QUERY = (
    "SELECT ?s ?p ?o WHERE {{ ?s ?p ?o }} "
    "ORDER BY ?s ?p ?o LIMIT {limit} OFFSET {offset}"
)


def is_remote_graph(graph_id: str) -> bool:
    """URL-shape dispatch, mirroring processor.py:156-164."""
    return bool(_REMOTE_URL.match(graph_id or ""))


def _default_transport(endpoint: str, query: str) -> dict:
    import urllib.parse
    import urllib.request

    body = urllib.parse.urlencode({"query": query}).encode("ascii")
    req = urllib.request.Request(
        endpoint,
        data=body,
        headers={
            "Content-Type": "application/x-www-form-urlencoded",
            "Accept": "application/sparql-results+json",
        },
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as resp:  # nosec - explicit opt-in
        return json.loads(resp.read().decode("utf8"))


def _binding_to_row(b: dict) -> Optional[GraphRow]:
    """One SPARQL-results-JSON binding {s,p,o} → a GraphRow."""
    s, p, o = b.get("s"), b.get("p"), b.get("o")
    if not (s and p and o):
        return None
    if o.get("type") == "uri":
        return (s["value"], p["value"], "iri", o["value"], None)
    # literal / typed-literal / bnode-as-literal fallback
    return (s["value"], p["value"], "literal", o["value"], o.get("xml:lang"))


def fetch_remote_graph(
    endpoint: str,
    transport: Optional[Transport] = None,
    page_size: int = 10_000,
    max_rows: int = 5_000_000,
) -> List[GraphRow]:
    """Page a remote graph down to GraphRows (driver-side, once).

    LIMIT/OFFSET paging keeps each response bounded; ``max_rows`` guards
    against accidentally broadcasting a graph that is not a dimension
    table (at that size, materialize it as a DataFrame and join instead).
    """
    send = transport or _default_transport
    rows: List[GraphRow] = []
    offset = 0
    while True:
        q = DUMP_QUERY.format(limit=page_size, offset=offset)
        payload = send(endpoint, q)
        bindings = payload.get("results", {}).get("bindings", [])
        for b in bindings:
            row = _binding_to_row(b)
            if row is not None:
                rows.append(row)
        if len(rows) > max_rows:
            raise ProcessorException(
                f"remote graph {endpoint} exceeds {max_rows} rows — too big "
                "to broadcast; load it as a DataFrame and join instead"
            )
        if len(bindings) < page_size:
            return rows
        offset += page_size


def resolve_graphs(
    graph_specs: Dict[str, str],
    transport: Optional[Transport] = None,
) -> Dict[str, List[GraphRow]]:
    """Normalize every graph spec to broadcastable GraphRow lists.

    Per-value dispatch:

    * a ``http(s)://`` URL → remote endpoint, batch prefetched (the
      Stardog case);
    * any other string → inline Turtle source, parsed with the TTL-lite
      reader (fixture ontologies).

    The result plugs straight into ``run_workflows(graphs=...)``.
    """
    return {
        name: fetch_remote_graph(spec, transport) if is_remote_graph(spec) else parse_ttl(spec)
        for name, spec in graph_specs.items()
    }
