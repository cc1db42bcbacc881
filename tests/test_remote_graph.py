"""Remote-graph select: batch prefetch (workflow/remote.py).

Reference parity targets: URL-shape dispatch
(text_to_turtle_processor.py:156-164) and Stardog HTTP select
(processor.py:233-327) — replaced by driver-side batch prefetch +
broadcast.
"""

import pytest

from cmc_knowledge_graph_text2ttl_spark.core.errors import ProcessorException
from cmc_knowledge_graph_text2ttl_spark.workflow.remote import (
    fetch_remote_graph,
    is_remote_graph,
    resolve_graphs,
)
from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import MiniGraph, make_query_fn


def _bindings(rows):
    out = []
    for s, p, kind, lex, lang in rows:
        o = (
            {"type": "uri", "value": lex}
            if kind == "iri"
            else {"type": "literal", "value": lex, **({"xml:lang": lang} if lang else {})}
        )
        out.append({"s": {"type": "uri", "value": s}, "p": {"type": "uri", "value": p}, "o": o})
    return out


ROWS = [
    ("http://x/a", "http://x/name", "literal", "Alice", "en"),
    ("http://x/a", "http://x/knows", "iri", "http://x/b", None),
    ("http://x/b", "http://x/name", "literal", "Bob", None),
]


class FakeEndpoint:
    """SPARQL endpoint double with LIMIT/OFFSET paging."""

    def __init__(self, rows):
        self.rows = rows
        self.queries = []

    def __call__(self, url, query):
        import re

        self.queries.append((url, query))
        limit = int(re.search(r"LIMIT (\d+)", query).group(1))
        offset = int(re.search(r"OFFSET (\d+)", query).group(1))
        page = self.rows[offset : offset + limit]
        return {"results": {"bindings": _bindings(page)}}


class TestDispatch:
    def test_url_shape(self):
        assert is_remote_graph("http://stardog:5820/db/query")
        assert is_remote_graph("HTTPS://host/sparql")
        assert not is_remote_graph("ontology")
        assert not is_remote_graph("file:///x.ttl")
        assert not is_remote_graph("")


class TestPrefetch:
    def test_fetch_all_rows(self):
        ep = FakeEndpoint(ROWS)
        got = fetch_remote_graph("http://e/q", transport=ep, page_size=10)
        assert got == ROWS
        assert len(ep.queries) == 1  # one page was enough

    def test_paging(self):
        ep = FakeEndpoint(ROWS * 40)  # 120 rows
        got = fetch_remote_graph("http://e/q", transport=ep, page_size=50)
        assert len(got) == 120
        # 50 + 50 + 20 → 3 pages (last short page terminates)
        assert len(ep.queries) == 3

    def test_max_rows_guard(self):
        ep = FakeEndpoint(ROWS * 40)
        with pytest.raises(ProcessorException, match="too big"):
            fetch_remote_graph("http://e/q", transport=ep, page_size=50, max_rows=60)

    def test_resolve_graphs_dispatch(self):
        ep = FakeEndpoint(ROWS)
        ttl = '@prefix x: <http://x/> . x:a x:p "v" .'
        out = resolve_graphs(
            {"dim": "http://e/q", "onto": ttl},
            transport=ep,
        )
        assert out["dim"] == ROWS
        assert out["onto"] == [("http://x/a", "http://x/p", "literal", "v", None)]

    def test_prefetched_graph_answers_select(self):
        """End-to-end: remote graph → prefetch → MiniGraph → select with
        FILTER works per-document without any further HTTP."""
        ep = FakeEndpoint(ROWS)
        rows = fetch_remote_graph("http://e/q", transport=ep)
        qfn = make_query_fn({"http://e/q": MiniGraph(rows)})
        out = qfn(
            ["n"],
            "http://e/q",
            'SELECT ?n WHERE { ?s <http://x/name> ?n . FILTER (regex(?n, "^A")) }',
        )
        assert [str(r["n"]) for r in out] == ["Alice"]
        assert len(ep.queries) == 1  # prefetch only — no per-select HTTP

