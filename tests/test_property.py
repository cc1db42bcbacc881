"""Property-based tests (hypothesis): interpreter invariants on random
inputs — literal coercion cascade, template expansion, extraction
determinism, minhash/jaccard math, a random-corpus engine-vs-oracle
sweep over a constrained workflow grammar, and the Spark N-Triples line
writer against its Python twin.
"""

import hashlib
import math
import re

from hypothesis import example, given, settings, strategies as st

from cmc_knowledge_graph_text2ttl_spark.core import XSD
from cmc_knowledge_graph_text2ttl_spark.operators.extract import extract_one
from cmc_knowledge_graph_text2ttl_spark.sinks import ntriples_line, triples_to_nt_lines
from cmc_knowledge_graph_text2ttl_spark.workflow import run_document
from cmc_knowledge_graph_text2ttl_spark.workflow.interpreter import DocInterpreter, _segment

from conftest import wf

text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=200,
)


class TestLiteralCascadeProperties:
    @given(st.integers(min_value=-(10**15), max_value=10**15))
    def test_integers_roundtrip(self, i):
        interp = DocInterpreter()
        lit = interp._parse_literal(_segment(str(i)))
        assert lit.datatype == XSD.integer and lit.lexical == str(i)

    @given(st.floats(allow_nan=False, allow_infinity=False, width=64))
    def test_floats_coerce(self, f):
        s = repr(f)
        interp = DocInterpreter()
        lit = interp._parse_literal(_segment(s))
        # ints-in-disguise ("1e2" is a float literal; "100.0" too)
        if lit.datatype == XSD.integer:
            assert float(lit.lexical) == f
        else:
            assert lit.datatype == XSD.float
            assert float(lit.lexical) == f or (math.isnan(float(lit.lexical)) and math.isnan(f))

    @given(text_st)
    def test_cascade_total(self, s):
        """The cascade never raises on plain strings without templates."""
        if "@{" in s:
            return
        interp = DocInterpreter()
        lit = interp._parse_literal(_segment(s))
        assert lit is not None

    @given(text_st)
    def test_caret_escape(self, s):
        if "@{" in s or s.strip() in ("true", "True", "TRUE", "false", "False", "FALSE"):
            return
        interp = DocInterpreter()
        lit = interp._parse_literal(_segment("^" + s))
        # '^'+s: int('^..') always fails, so result is the string s...
        # unless s itself parses as number after the caret is kept — it
        # can't: '^' prefix kills int/float parses. Plain literal == s.
        assert lit.lexical == s and lit.datatype is None


class TestTemplateProperties:
    @given(st.dictionaries(
        st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True),
        st.from_regex(r"[A-Za-z0-9 ,;.!-]{0,20}", fullmatch=True),
        max_size=5,
    ))
    def test_defined_vars_expand(self, vars_):
        interp = DocInterpreter(initial_vars=vars_)
        for name, val in vars_.items():
            assert interp.expand(_segment("@{" + name + "}")) == (val or "")

    @given(text_st)
    def test_no_refs_identity(self, s):
        if "@{" in s:
            return
        interp = DocInterpreter()
        assert interp.expand(_segment(s)) == s

    @given(st.from_regex(r"[a-z]{1,8}", fullmatch=True))
    def test_undefined_var_is_None_literal(self, name):
        interp = DocInterpreter()
        assert interp.expand(_segment("@{" + name + "}")) == "None"


class TestExtractionProperties:
    @given(st.binary(max_size=400))
    def test_extract_is_pure_and_total(self, data):
        a = extract_one(data)
        b = extract_one(data)
        assert a == b  # deterministic
        text, ctype, err = a
        assert (text is None) == (err is not None)

    @given(
        st.lists(
            st.sampled_from(
                [
                    "hello world", "a & b", "<p>", "</p>", "<div>", "</div>",
                    "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>",
                    "<br/>", "<br>", "<B>", "</B>", "<span>", "</span>",
                    "<script>x()</script>", "&amp;", "<html>", "</html>",
                    "<p class='x'>", "plain", "< 3", "2 > 1",
                ]
            ),
            max_size=12,
        )
    )
    def test_fast_path_equals_parser(self, pieces):
        """The already-canonical fast path must be byte-equivalent to the
        full parser whenever it claims applicability."""
        from cmc_knowledge_graph_text2ttl_spark.operators.extract import (
            _XhtmlNormalizer,
            _already_canonical,
            html_to_xhtml_text,
        )

        text = "".join(pieces)
        if not _already_canonical(text):
            return
        norm = _XhtmlNormalizer()
        norm.feed(text)
        norm.close()
        assert norm.result() == text

    @given(st.text(max_size=300))
    def test_normalizer_idempotent(self, s):
        """Normalized XHTML re-normalizes to itself: output contains only
        whitelisted tags, balanced, with escaped text — a fixpoint."""
        from cmc_knowledge_graph_text2ttl_spark.operators.extract import (
            html_to_xhtml_text,
        )

        try:
            once = html_to_xhtml_text(s.encode("utf-8"))
        except Exception:
            return  # malformed inputs are error rows, not this property
        twice = html_to_xhtml_text(once.encode("utf-8"))
        assert twice == once

    @given(st.text(max_size=200))
    def test_first_root_truncation(self, s):
        # two complete roots in the input → at most one survives, and the
        # output ends at the first close (normalizer + truncation)
        data = (
            "<html><body>" + s + "</body></html>"
            "<html><body>second</body></html>"
        ).encode("utf-8", "ignore")
        text, ctype, err = extract_one(data)
        if err is None:
            assert text.count("</html>") <= 1
            if "</html>" in text:
                assert text.endswith("</html>")


class TestOracleGrammarSweep:
    """Random (doc, workflow) pairs from a constrained grammar: the
    interpreter must never crash the batch (errors are per-doc values)
    and where it succeeds, stats invariants hold."""

    WORDS = ["alpha", "beta", "gamma", "delta", "x1", "y2"]

    @given(
        st.lists(st.sampled_from(WORDS), min_size=0, max_size=30),
        st.sampled_from(WORDS),
        st.integers(min_value=0, max_value=3),
    )
    @settings(max_examples=60, deadline=None)
    def test_match_every_invariants(self, doc_words, needle, extra):
        text = " ".join(doc_words)
        src = f"""
- prefix: ex
  iri: http://x/
- match-every: '\\b({needle})\\b'
  as: m
  do:
    - subject: ex:doc
      predicate: ex:hit
      object: "^@{{m.1}}-@{{m_count}}"
"""
        res = run_document(text, wf(src))
        assert res.error is None
        n = len(re.findall(rf"\b({needle})\b", text))
        assert res.no_matches == n
        assert res.no_triples == n
        assert len(res.triples) == n  # all distinct (count suffix)
        assert res.total_match_len == n * len(needle)
        expected_score = sum(1 - 1 / max(1, len(needle)) for _ in range(n))
        assert math.isclose(res.score, expected_score)

    @given(st.lists(st.sampled_from(WORDS), min_size=1, max_size=20))
    @settings(max_examples=40, deadline=None)
    def test_within_scoping_never_leaks(self, doc_words):
        text = "PRE [" + " ".join(doc_words) + "] POST"
        src = """
- within: '\\[(.*)\\]'
  do:
    - match: '(PRE|POST)'
      as: leak
      do: [{pass: x}]
- ifdef: leak.1
  do:
    - subject: http://x/s
      predicate: http://x/p
      object: leaked
"""
        res = run_document(text, wf(src))
        assert res.error is None
        assert res.triples == []  # PRE/POST invisible inside the scope


class TestPropertyPathProperties:
    """Path evaluator vs a brute-force closure on random small graphs."""

    node_st = st.integers(min_value=0, max_value=7)
    edges_st = st.lists(
        st.tuples(node_st, st.sampled_from(["p", "q"]), node_st),
        min_size=0, max_size=14,
    )

    # random path AST over predicates p/q, depth <= 3
    path_st = st.recursive(
        st.sampled_from([("pred", "http://x/p"), ("pred", "http://x/q")]),
        lambda sub: st.one_of(
            st.tuples(st.just("inv"), sub),
            st.tuples(st.just("star"), sub),
            st.tuples(st.just("plus"), sub),
            st.tuples(st.just("maybe"), sub),
            st.builds(lambda a, b: ("seq", [a, b]), sub, sub),
            st.builds(lambda a, b: ("alt", [a, b]), sub, sub),
        ),
        max_leaves=4,
    )

    @staticmethod
    def _naive_pairs(ast, rows, nodes):
        """All (start, end) pairs of the path over the tiny graph."""
        kind = ast[0]
        if kind == "pred":
            return {(s, o) for (s, p, o) in rows if p == ast[1]}
        if kind == "inv":
            return {(b, a) for (a, b) in
                    TestPropertyPathProperties._naive_pairs(ast[1], rows, nodes)}
        if kind == "seq":
            acc = None
            for sub in ast[1]:
                pp = TestPropertyPathProperties._naive_pairs(sub, rows, nodes)
                if acc is None:
                    acc = pp
                else:
                    acc = {(a, c) for (a, b) in acc for (b2, c) in pp if b == b2}
            return acc or set()
        if kind == "alt":
            out = set()
            for sub in ast[1]:
                out |= TestPropertyPathProperties._naive_pairs(sub, rows, nodes)
            return out
        base = TestPropertyPathProperties._naive_pairs(ast[1], rows, nodes)
        if kind == "maybe":
            return base | {(n, n) for n in nodes}
        # transitive closure
        closure = set(base)
        changed = True
        while changed:
            changed = False
            for (a, b) in list(closure):
                for (b2, c) in base:
                    if b == b2 and (a, c) not in closure:
                        closure.add((a, c))
                        changed = True
        if kind == "plus":
            return closure
        return closure | {(n, n) for n in nodes}  # star

    @given(edges_st, path_st)
    @settings(max_examples=120, deadline=None)
    def test_both_unbound_matches_naive_closure(self, edges, ast):
        from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import MiniGraph

        rows = [
            (f"http://x/n{a}", f"http://x/{p}", "iri", f"http://x/n{b}", None)
            for a, p, b in edges
        ]
        g = MiniGraph(rows)
        iri_rows = {(r[0], r[1], r[3]) for r in rows}
        nodes = {r[0] for r in iri_rows} | {r[2] for r in iri_rows}
        expect = self._naive_pairs(ast, iri_rows, nodes)

        got = set()
        for n in g._all_nodes():
            for e in g._path(ast, n, True):
                got.add((n.value, e.value))
        assert got == expect

        # backward evaluation must agree with forward
        got_bwd = set()
        for n in g._all_nodes():
            for s in g._path(ast, n, False):
                got_bwd.add((s.value, n.value))
        assert got_bwd == expect


# ---------------------------------------------------------------------------
# The two term writers: the Spark N-Triples line and its oracle-side twin

_term_chars = st.one_of(
    st.sampled_from('\\"\n\r\t'), st.characters(blacklist_categories=("Cs",))
)
_triple_st = st.tuples(
    st.text(_term_chars, min_size=1, max_size=8),  # subj
    st.text(_term_chars, min_size=1, max_size=8),  # pred
    st.sampled_from(["iri", "literal"]),  # obj_kind
    st.text(_term_chars, max_size=12),  # obj_lexical, empty included
    # obj_lang and obj_datatype: the interpreter sets None, never "", but
    # a triples table built by other means may hold "", which means absent
    st.none() | st.just("") | st.from_regex(r"[a-zA-Z]{1,8}(-[a-zA-Z0-9]{1,8})?", fullmatch=True),
    st.none() | st.just("") | st.text(_term_chars, min_size=1, max_size=8),
)


class TestIriProperties:
    """Random template values in every IRI term give an error row or
    IRIs that N-Triples can write."""

    SRC = (
        "- subject: 'http://x/s@{s}'\n"
        "  predicate: 'http://x/p@{p}'\n"
        "  object: {iri: 'http://x/o@{o}'}\n"
    )
    BAD = re.compile(r'[<>"{}|^`\\\x00-\x20]')

    @settings(max_examples=200, deadline=None)
    @given(st.text(max_size=8), st.text(max_size=8), st.text(max_size=8))
    def test_emitted_iris_are_writable(self, s, p, o):
        res = run_document("", wf(self.SRC), doc_vars={"s": s, "p": p, "o": o})
        if not any(self.BAD.search(v) for v in (s, p, o)):
            assert res.error is None
        if res.error is None:
            assert res.triples
            for subj, pred, kind, lex, _, _ in res.triples:
                assert kind == "iri"
                assert not any(self.BAD.search(t) for t in (subj, pred, lex))


class TestTermWriterProperties:
    @settings(max_examples=10, deadline=None)
    @given(st.lists(_triple_st, min_size=1, max_size=12))
    @example([("s", "p", "literal", "v", "", None), ("s", "p", "literal", "w", None, "")])
    def test_spark_line_equals_python_line(self, spark, rows):
        """``ntriples_line`` (what ``write_ntriples`` and the per-document
        export write) and ``triples_to_nt_lines`` (the goldens) give the
        same bytes for every escape class, non-ASCII text, empty lexical
        forms, empty tags and datatypes, and language-tagged, typed and
        IRI objects."""
        df = spark.createDataFrame(
            rows,
            "subj string, pred string, obj_kind string, obj_lexical string,"
            "obj_lang string, obj_datatype string",
        )
        got = sorted(r.line for r in df.select(ntriples_line().alias("line")).collect())
        assert got == triples_to_nt_lines(rows)
