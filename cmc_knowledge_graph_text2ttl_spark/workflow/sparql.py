"""Mini-SPARQL evaluation for the ``select:`` workflow op.

The reference hands ``where:`` clauses to rdflib's full SPARQL engine for
local graphs, or to a Stardog HTTP endpoint (text_to_turtle_processor.py
:168-327). Per-row HTTP is banned at 10^12-document scale, so the engine
replaces both with a *broadcast reference graph*: the ontology is loaded
once on the driver, broadcast, and ``select:`` becomes an in-UDF lookup
against it (the relational equivalent: an equi-join against a broadcast
dimension table).

Supported query subset (sufficient for workflow-style ontology lookups):

* a query is ``PREFIX pfx: <iri>`` declarations followed by one
  ``SELECT [DISTINCT] ?a ?b | * WHERE { group } [modifiers]``; any other
  text before or after it raises
* triple patterns ``s p o .`` with terms: ``?var``, ``<iri>``,
  ``pfx:name``, ``"literal"`` / ``"literal"@lang``, numbers, ``a``.
  One term lexer serves queries, VALUES, expressions and ``parse_ttl``,
  so a literal unescapes (``\\"`` → ``"``, ``\\\\`` → ``\\``) the same
  way in a query as in the Turtle it is matched against
* property paths in the predicate position: sequence ``p1/p2``,
  alternation ``p1|p2``, inverse ``^p``, grouping ``(...)``, and the
  closures ``p*`` / ``p+`` / ``p?``. Closure/inverse modifiers must be
  glued to their element (no whitespace) — ``p ?o`` is a pattern with a
  variable object, ``p? o`` would be ambiguous and is not written in
  practice. Zero-length paths (``*``/``?``) match a bound endpoint to
  itself even when the term does not occur in the graph (SPARQL
  zero-length semantics); with both endpoints unbound they range over
  the graph's terms.
* groups compose recursively: ``OPTIONAL { group }`` at any depth
  (SPARQL left-join: all extensions if any, else the binding survives
  with the optional vars unbound), ``{ group } UNION { group }`` chains,
  and bare nested ``{ group }``
* ``FILTER ( expr )`` — an expression (below) whose root is
  boolean-valued; an unbound variable makes the filter false (SPARQL
  error semantics). Filters scope over their ENCLOSING group and apply
  at the end of that group — a FILTER inside an OPTIONAL decides whether
  the optional extension survives, exactly as in SPARQL.
* ``VALUES ?v { t1 t2 ... }`` and ``VALUES (?a ?b) { (t1 t2) ... }``
  with ``UNDEF`` — inline data joined against the bindings in flow
  (shared vars must agree; UNDEF is compatible with anything).
* ``MINUS { group }`` — SPARQL algebra semantics: the MINUS group is
  evaluated INDEPENDENTLY (outer bindings do not flow in, unlike
  OPTIONAL), and a binding is dropped iff some MINUS solution is
  compatible with it AND shares at least one bound variable
  (domain-disjoint solutions remove nothing).
* ``BIND ( expr AS ?v )`` — any expression (below). A boolean-valued
  one binds the ``xsd:boolean`` literal ``"true"`` / ``"false"``; a
  numeric constant keeps its lexical form. An error (unbound var)
  leaves ``?v`` unbound but keeps the binding, per SPARQL; binding an
  already-bound name raises.
* solution modifiers, in SPARQL order and each at most once, the same
  for a query and a subquery: ``GROUP BY ?v...`` → ``HAVING ( expr )``
  → ``ORDER BY`` keys (``?v`` / ``ASC(?v)`` / ``DESC(?v)``; unbound
  sorts first, then IRIs, then literals with numeric-aware comparison)
  → ``LIMIT n`` / ``OFFSET n`` (either order, applied offset-then-limit
  as in SPARQL). Any other order or a repeated clause raises.

* subqueries ``{ SELECT ... }`` — read by the same SELECT parser as a
  query, evaluated bottom-up on an empty binding (SPARQL semantics),
  then only the projected variables join outward against the enclosing
  group's bindings.
* aggregates ``(COUNT(*)|COUNT([DISTINCT] ?v)|SUM|MIN|MAX|AVG(?v) AS
  ?name)`` in the SELECT clause with ``GROUP BY ?v...`` (also in
  subqueries). A plain selected var must appear in GROUP BY; with no
  GROUP BY the solutions form one implicit group (COUNT over zero
  solutions is 0, per SPARQL). COUNT yields an integer literal;
  SUM/AVG skip non-numeric/unbound values and render integral results
  without a decimal point; MIN/MAX use the ORDER BY term ordering.
  ``HAVING ( expr )`` filters the aggregated rows with the same
  expression language as FILTER, referencing the output names
  (``HAVING (?n > 1)``).

* negated property sets ``!p`` / ``!(p1|^p2|...)`` in the predicate
  position: forward edges whose predicate is outside the forward set,
  plus inverse edges whose predicate is outside the inverse set (SPARQL
  §9.1 NPS translation); composes with closures like any path element.
* ``GRAPH <name> { group }`` / ``GRAPH ?g { group }`` over the runner's
  named broadcast graphs (the ``graphs={...}`` dict): a constant name
  evaluates the group against that sibling graph (the dict key,
  resolved as the full IRI or its bare string), a variable ranges over
  all named graphs in sorted key order binding ``?g`` to each key.
  Nesting works; the default graph stays the ``from:`` graph.

Expressions — one grammar, parser and evaluator for FILTER, HAVING and
BIND (a subset of SPARQL 1.1 §17)::

    expr    := and ( '||' and )*
    and     := unary ( '&&' unary )*
    unary   := '!' unary | primary [ ( = | != | < | <= | > | >= ) primary ]
    primary := '(' expr ')' | FN '(' expr ( ',' expr )* ')' | ?var | term

``FN`` is one of ``REGEX(e, "pat" [, "flags"])``, ``STR(e)``,
``CONCAT(e, ...)``, ``UCASE(e)``, ``LCASE(e)``, ``STRLEN(e)``, names
case-insensitive. Comparisons are numeric when both sides parse as
numbers, lexical otherwise. ``||``, ``&&`` and ``!`` take
boolean-valued operands (a comparison, REGEX or another logical
expression) under SPARQL three-valued logic: an unbound variable is an
error that ``error || true`` and ``false && error`` absorb.

``parse_ttl`` reads the Turtle subset the fixture ontologies use:
``@prefix`` declarations, ``#`` comment lines, and one-triple statements
``s p o .`` whose terms go through the query term lexer. Predicate lists
(``;``), object lists (``,``) and ``^^`` datatypes are out of scope: the
first statement it cannot read raises.

Still unsupported (raises, never silently drops): SERVICE — federated
query against remote endpoints is per-row HTTP by construction, exactly
what the broadcast design exists to avoid; pre-materialize remote
lookups with ``workflow/remote.py`` instead.
"""

from __future__ import annotations

import operator
import re
from typing import Dict, Iterable, List, NamedTuple, Optional, Tuple

from ..core.errors import ProcessorException
from ..core.terms import XSD, IriNode, LitNode

# A graph row: (subj, pred, obj_kind, obj_lexical, obj_lang)
GraphRow = Tuple[str, str, str, str, Optional[str]]

_PREFIX_DECL = re.compile(r"(?i)\s*PREFIX\s+([A-Za-z][\w-]*)\s*:\s*<([^>]*)>")

# Term lexemes shared by the query lexer, the expression tokenizer and
# the Turtle reader.
_VAR = r"\?[A-Za-z_][\w-]*"
_LIT = r'"(?:[^"\\]|\\.)*"(?:@[A-Za-z-]+)?'
_PNAME = r"[A-Za-z][\w-]*:[\w./#-]+"
_NUM_RE = re.compile(r"[-+]?\d+(?:\.\d+)?")


def _parse_term(tok: str, prefixes: Dict[str, str]):
    if tok.startswith("?"):
        return ("var", tok[1:])
    if tok == "a":
        return ("iri", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
    if tok.startswith("<"):
        return ("iri", tok[1:-1])
    if tok.startswith('"'):
        m = re.match(r'"((?:[^"\\]|\\.)*)"(?:@([A-Za-z-]+))?$', tok)
        if not m:
            raise ProcessorException(f"Bad literal token: {tok}")
        lex = m.group(1).replace('\\"', '"').replace("\\\\", "\\")
        return ("lit", lex, m.group(2))
    if _NUM_RE.fullmatch(tok):
        return ("lit", tok, None)  # a number keeps its lexical form
    if ":" in tok:
        pfx, member = tok.split(":", 1)
        ns = prefixes.get(pfx)
        if ns is None:
            raise ProcessorException(f"Unknown prefix: {pfx}")
        return ("iri", ns + member)
    raise ProcessorException(f"Cannot parse term: {tok}")


def _const_term(spec):
    """A constant term spec → its IriNode / LitNode."""
    if spec[0] == "iri":
        return IriNode(spec[1])
    return LitNode(spec[1], lang=spec[2])


# ---------------------------------------------------------------------------
# WHERE-group parsing: recursive descent (groups, UNION, OPTIONAL, paths)

class _Group:
    """A SPARQL group-graph-pattern: ordered elements + end-of-group
    filters. Element kinds: ('bgp', [pattern...]), ('optional', _Group),
    ('group', _Group), ('union', [_Group...]), ('minus', _Group),
    ('graphpat', term, _Group), ('bind', expr_ast, var),
    ('values', [row...]) and ('subselect', _Select)."""

    __slots__ = ("elements", "filters")

    def __init__(self, elements: List[tuple], filters: List[tuple]) -> None:
        self.elements = elements
        self.filters = filters


_TERM_AT = re.compile(
    "|".join((_VAR, r"<[^>]*>", _LIT, _PNAME, _NUM_RE.pattern, r"a(?![\w:-])"))
)
# Path elements exclude '/', '|' and the closure chars from prefixed-name
# members so path operators tokenize; full IRIs <...> may contain anything.
_PATH_IRI_AT = re.compile(r"<[^>]*>|[A-Za-z][\w-]*:[\w.#-]+|a(?![\w:-])")
_KW_AT = {
    kw: re.compile("(?i)" + r"\s+".join(kw.split()) + r"(?![\w:-])")
    for kw in (
        "OPTIONAL", "FILTER", "UNION", "MINUS", "BIND", "VALUES", "UNDEF",
        "GRAPH", "SELECT", "AS", "GROUP BY", "HAVING", "ORDER BY", "LIMIT",
        "OFFSET",
    )
}
_UNSUPPORTED_KW = re.compile(r"(?i)(SELECT|SERVICE)(?![\w:-])")
# the rest of a SELECT head after its keyword, up to the group's '{'
_SELECT_HEAD = re.compile(r"(?is)\s+(DISTINCT\b\s*)?(.+?)\s*\bWHERE\s*\{")
# selection items: (AGG(...) AS ?name) | ?var | *
_SEL_ITEM = re.compile(
    r"(?is)\(\s*(COUNT|SUM|MIN|MAX|AVG)\s*\(\s*(DISTINCT\s+)?"
    r"(\*|\?[A-Za-z_][\w-]*)\s*\)\s+AS\s+\?([A-Za-z_][\w-]*)\s*\)"
    r"|\?([A-Za-z_][\w-]*)|(\*)"
)
_VAR_AT = re.compile(r"\s*\?([A-Za-z_][\w-]*)")
_ORDER_KEY = re.compile(
    r"(?i)\s*(?:(ASC|DESC)\s*\(\s*\?([A-Za-z_][\w-]*)\s*\)|\?([A-Za-z_][\w-]*))"
)
_INT_AT = re.compile(r"\s*(\d+)")
# Expression tokens: IRI first (no whitespace inside an IRI, so "<= 5"
# can't match it), then two-char operators before their one-char
# prefixes, prefixed names before bare function names.
_EXPR_TOKEN = re.compile(
    r"\s*(<[^<>\s]*>|\|\||&&|!=|<=|>=|[=<>!(),]|"
    + "|".join((_VAR, _LIT, _NUM_RE.pattern, _PNAME))
    + r"|[A-Za-z]\w*)"
)


def _parse_selection(sel_src: str, ctx: str):
    """SELECT-clause items → ['*'] or a list of ('var', name) /
    ('agg', FN, var|None, distinct?, outname)."""
    sel_src = sel_src.strip()
    if sel_src == "*":
        return ["*"]
    items: List[tuple] = []
    pos = 0
    while pos < len(sel_src):
        m = _SEL_ITEM.match(sel_src, pos)
        if m is None:
            raise ProcessorException(
                f"Cannot parse SELECT clause near {sel_src[pos:pos + 30]!r} "
                f"in: {ctx!r}"
            )
        if m.group(6):
            raise ProcessorException(
                f"'*' cannot be mixed with other SELECT items in: {ctx!r}"
            )
        if m.group(5):
            items.append(("var", m.group(5)))
        else:
            operand = m.group(3)
            var = None if operand == "*" else operand[1:]
            fn = m.group(1).upper()
            if var is None and fn != "COUNT":
                raise ProcessorException(f"{fn}(*) is not valid SPARQL in: {ctx!r}")
            items.append(("agg", fn, var, m.group(2) is not None, m.group(4)))
        pos = m.end()
        while pos < len(sel_src) and sel_src[pos].isspace():
            pos += 1
    if not items:
        raise ProcessorException(f"Empty SELECT clause in: {ctx!r}")
    return items


class _Cur:
    """Cursor over query or Turtle text; ``ctx`` names it in errors."""

    __slots__ = ("s", "i", "ctx")

    def __init__(self, s: str, ctx: str) -> None:
        self.s, self.i, self.ctx = s, 0, ctx

    def ws(self) -> None:
        while self.i < len(self.s) and self.s[self.i] in " \t\r\n":
            self.i += 1

    def peek(self) -> str:
        self.ws()
        return self.s[self.i] if self.i < len(self.s) else ""

    def try_ch(self, ch: str) -> bool:
        if self.peek() == ch:
            self.i += 1
            return True
        return False

    def expect(self, ch: str) -> None:
        if not self.try_ch(ch):
            raise ProcessorException(
                f"Expected {ch!r} near {self.s[self.i:self.i + 30]!r} in: {self.ctx!r}"
            )

    def try_kw(self, kw: str) -> bool:
        self.ws()
        m = _KW_AT[kw].match(self.s, self.i)
        if m:
            self.i = m.end()
            return True
        return False

    def term(self) -> str:
        self.ws()
        m = _UNSUPPORTED_KW.match(self.s, self.i)
        if m:
            raise ProcessorException(
                f"Unsupported SPARQL construct {m.group(1)!r} in: {self.ctx!r} — "
                "pre-materialize the lookup as mapping pairs instead"
            )
        m = _TERM_AT.match(self.s, self.i)
        if m is None:
            raise ProcessorException(
                f"Cannot parse term near "
                f"{self.s[self.i:self.i + 30]!r} in: {self.ctx!r}"
            )
        tok = m.group(0)
        self.i = m.end()
        # a prefixed name glued to its statement-separator dot
        while tok.endswith(".") and not tok.startswith(("<", '"')):
            tok = tok[:-1]
            self.i -= 1
        return tok

    def token(self, take: bool) -> str:
        """The next expression token ('' when none starts here); ``take``
        consumes it, and raises when there is none."""
        m = _EXPR_TOKEN.match(self.s, self.i)
        if m is None:
            if take:
                raise ProcessorException(
                    f"Bad expression near {self.s[self.i:self.i + 30]!r} "
                    f"in: {self.ctx!r}"
                )
            return ""
        if take:
            self.i = m.end()
        return m.group(1)


def _parse_path_elt(cur: _Cur, prefixes: Dict[str, str]) -> tuple:
    if cur.try_ch("^"):
        return ("inv", _parse_path_elt(cur, prefixes))
    if cur.try_ch("!"):
        # negated property set !(p1|^p2|...) or bare !p — matches any
        # forward edge whose predicate is not in the forward set plus
        # any backward edge whose predicate is not in the inverse set
        fwd_excl: List[str] = []
        bwd_excl: List[str] = []
        has_fwd = has_bwd = False

        def one_member() -> None:
            nonlocal has_fwd, has_bwd
            inv = cur.try_ch("^")
            cur.ws()
            m = _PATH_IRI_AT.match(cur.s, cur.i)
            if m is None:
                raise ProcessorException(
                    f"Cannot parse negated-property-set member near "
                    f"{cur.s[cur.i:cur.i + 30]!r} in: {cur.ctx!r}"
                )
            cur.i = m.end()
            iri = _parse_term(m.group(0), prefixes)[1]
            if inv:
                bwd_excl.append(iri)
                has_bwd = True
            else:
                fwd_excl.append(iri)
                has_fwd = True

        if cur.try_ch("("):
            one_member()
            while cur.try_ch("|"):
                one_member()
            cur.expect(")")
        else:
            one_member()
        node = (
            "negset",
            frozenset(fwd_excl),
            frozenset(bwd_excl),
            has_fwd,
            has_bwd,
        )
    elif cur.try_ch("("):
        node = _parse_path(cur, prefixes)
        cur.expect(")")
    else:
        cur.ws()
        m = _PATH_IRI_AT.match(cur.s, cur.i)
        if m is None:
            raise ProcessorException(
                f"Cannot parse property-path element near "
                f"{cur.s[cur.i:cur.i + 30]!r} in: {cur.ctx!r}"
            )
        tok = m.group(0)
        cur.i = m.end()
        while tok.endswith("."):
            tok = tok[:-1]
            cur.i -= 1
        node = ("pred", _parse_term(tok, prefixes)[1])
    # closure modifiers must be GLUED to the element: after whitespace a
    # '?' starts the object variable of the pattern, not a modifier
    if cur.i < len(cur.s) and cur.s[cur.i] in "*+?":
        mod = {"*": "star", "+": "plus", "?": "maybe"}[cur.s[cur.i]]
        cur.i += 1
        node = (mod, node)
    return node


def _parse_path_seq(cur: _Cur, prefixes: Dict[str, str]) -> tuple:
    elts = [_parse_path_elt(cur, prefixes)]
    while cur.try_ch("/"):
        elts.append(_parse_path_elt(cur, prefixes))
    return elts[0] if len(elts) == 1 else ("seq", elts)


def _parse_path(cur: _Cur, prefixes: Dict[str, str]) -> tuple:
    arms = [_parse_path_seq(cur, prefixes)]
    while cur.try_ch("|"):
        arms.append(_parse_path_seq(cur, prefixes))
    return arms[0] if len(arms) == 1 else ("alt", arms)


def _parse_predicate(cur: _Cur, prefixes: Dict[str, str]) -> tuple:
    if cur.peek() == "?":
        return _parse_term(cur.term(), prefixes)
    node = _parse_path(cur, prefixes)
    if node[0] == "pred":
        return ("iri", node[1])  # plain predicate keeps the index fast path
    return ("path", node)


# ---------------------------------------------------------------------------
# Expressions (FILTER, HAVING, BIND): one recursive-descent parser

_CMP = {
    "=": operator.eq, "!=": operator.ne, "<": operator.lt,
    "<=": operator.le, ">": operator.gt, ">=": operator.ge,
}
_FNS = {"REGEX", "STR", "CONCAT", "UCASE", "LCASE", "STRLEN"}
_BOOLEAN = {"or", "and", "not", "cmp", "regex"}


def _boolean(node: tuple, cur: _Cur) -> tuple:
    """``node`` when it is boolean-valued, else raise."""
    if node[0] not in _BOOLEAN:
        raise ProcessorException(
            "Expected a boolean expression (a comparison, regex, !, && or "
            f"||) near {cur.s[cur.i:cur.i + 30]!r} in: {cur.ctx!r}"
        )
    return node


def _parse_expr(cur: _Cur, prefixes: Dict[str, str]) -> tuple:
    """One expression at the cursor (grammar in the module docstring) →
    AST: ('const', term), ('var', name), ('or'|'and', l, r), ('not', e),
    ('cmp', op, l, r), ('regex', e, compiled) or ('fn', FN, [e...])."""

    def disjunction() -> tuple:
        node = conjunction()
        while cur.token(False) == "||":
            cur.token(True)
            node = ("or", _boolean(node, cur), _boolean(conjunction(), cur))
        return node

    def conjunction() -> tuple:
        node = unary()
        while cur.token(False) == "&&":
            cur.token(True)
            node = ("and", _boolean(node, cur), _boolean(unary(), cur))
        return node

    def unary() -> tuple:
        if cur.token(False) == "!":
            cur.token(True)
            return ("not", _boolean(unary(), cur))
        node = primary()
        if cur.token(False) in _CMP:
            return ("cmp", cur.token(True), node, primary())
        return node

    def primary() -> tuple:
        t = cur.token(True)
        if t == "(":
            node = disjunction()
            cur.expect(")")
            return node
        fn = t.upper()
        if fn in _FNS:
            cur.expect("(")
            args = [disjunction()]
            while cur.try_ch(","):
                args.append(disjunction())
            cur.expect(")")
            if fn == "REGEX":
                return regex(args)
            if fn != "CONCAT" and len(args) != 1:
                raise ProcessorException(
                    f"{fn} takes exactly one argument in: {cur.ctx!r}"
                )
            return ("fn", fn, args)
        if not _TERM_AT.fullmatch(t):
            raise ProcessorException(
                f"Expected an operand, got {t!r} in: {cur.ctx!r}"
            )
        spec = _parse_term(t, prefixes)
        return spec if spec[0] == "var" else ("const", _const_term(spec))

    def regex(args: List[tuple]) -> tuple:
        # the pattern and flags are string constants, compiled once here
        if not 2 <= len(args) <= 3 or any(
            a[0] != "const" or not isinstance(a[1], LitNode) for a in args[1:]
        ):
            raise ProcessorException(
                f'REGEX takes (expr, "pattern" [, "flags"]) in: {cur.ctx!r}'
            )
        pat = args[1][1].lexical
        flags = re.IGNORECASE if args[2:] and "i" in args[2][1].lexical.lower() else 0
        try:
            compiled = re.compile(pat, flags)
        except re.error as ex:
            raise ProcessorException(f"invalid regex {pat!r} ({ex})") from ex
        return ("regex", args[0], compiled)

    return disjunction()


def _parse_constraint(cur: _Cur, prefixes: Dict[str, str]) -> tuple:
    """``( expr )`` of a FILTER or HAVING; its root must be boolean."""
    cur.expect("(")
    node = _boolean(_parse_expr(cur, prefixes), cur)
    cur.expect(")")
    return node


def _parse_bind(cur: _Cur, prefixes: Dict[str, str]) -> tuple:
    """``BIND ( expr AS ?v )`` → ('bind', expr_ast, 'v')."""
    cur.expect("(")
    expr = _parse_expr(cur, prefixes)
    var = _VAR_AT.match(cur.s, cur.i) if cur.try_kw("AS") else None
    if var is None:
        raise ProcessorException(f"BIND needs '(expr AS ?var)' in: {cur.ctx!r}")
    cur.i = var.end()
    cur.expect(")")
    return ("bind", expr, var.group(1))


def _values_term(cur: _Cur, prefixes: Dict[str, str]):
    """One VALUES data term: UNDEF → None, else a constant term."""
    if cur.try_kw("UNDEF"):
        return None
    spec = _parse_term(cur.term(), prefixes)
    if spec[0] == "var":
        raise ProcessorException(f"Variable in VALUES data block in: {cur.ctx!r}")
    return _const_term(spec)


def _parse_values(cur: _Cur, prefixes: Dict[str, str]) -> tuple:
    """``VALUES ?v { ... }`` / ``VALUES (?a ?b) { (..) (..) }`` →
    ('values', [row...]); a row maps each var to a term, None for UNDEF."""
    vars_: List[str] = []
    if cur.try_ch("("):
        while cur.peek() != ")":
            tok = cur.term()
            if not tok.startswith("?"):
                raise ProcessorException(
                    f"VALUES variable list needs ?vars in: {cur.ctx!r}"
                )
            vars_.append(tok[1:])
        cur.expect(")")
        parenthesized = True
    else:
        tok = cur.term()
        if not tok.startswith("?"):
            raise ProcessorException(f"VALUES needs a ?var in: {cur.ctx!r}")
        vars_.append(tok[1:])
        parenthesized = False
    if not vars_:
        raise ProcessorException(f"Empty VALUES variable list in: {cur.ctx!r}")
    cur.expect("{")
    rows: List[dict] = []
    while cur.peek() != "}":
        if parenthesized:
            cur.expect("(")
            row = []
            while cur.peek() != ")":
                row.append(_values_term(cur, prefixes))
            cur.expect(")")
            if len(row) != len(vars_):
                raise ProcessorException(
                    f"VALUES row arity {len(row)} != {len(vars_)} vars "
                    f"in: {cur.ctx!r}"
                )
            rows.append(dict(zip(vars_, row)))
        else:
            rows.append({vars_[0]: _values_term(cur, prefixes)})
    cur.expect("}")
    return ("values", rows)


class _Select(NamedTuple):
    """A parsed SELECT — a query or a subquery — as ``_solve`` takes it."""

    items: list  # ['*'] or ('var', name) / ('agg', ...) from _parse_selection
    distinct: bool
    group: _Group
    group_by: List[str]
    having: Optional[tuple]
    order: List[Tuple[str, bool]]  # (var, descending?)
    limit: Optional[int]
    offset: Optional[int]


def _clause(cur: _Cur, kw: str, key: re.Pattern) -> List[re.Match]:
    """``kw key+`` at the cursor → the key matches; [] without ``kw``."""
    if not cur.try_kw(kw):
        return []
    keys = []
    while (k := key.match(cur.s, cur.i)) is not None:
        keys.append(k)
        cur.i = k.end()
    if not keys:
        raise ProcessorException(f"Empty {kw} in: {cur.ctx!r}")
    return keys


def _parse_select(cur: _Cur, prefixes: Dict[str, str]) -> _Select:
    """``SELECT [DISTINCT] items WHERE { group }`` and its modifiers,
    cursor just past the SELECT keyword — for a query and a ``{ SELECT
    ... }`` subquery alike. Modifiers follow SPARQL order, each at most
    once: GROUP BY → HAVING → ORDER BY → LIMIT / OFFSET (either order)."""
    m = _SELECT_HEAD.match(cur.s, cur.i)
    if m is None:
        raise ProcessorException(
            f"Cannot parse SELECT near {cur.s[cur.i:cur.i + 40]!r} "
            f"in: {cur.ctx!r}"
        )
    items = _parse_selection(m.group(2), cur.ctx)
    cur.i = m.end()
    group = _parse_group(cur, prefixes)
    cur.expect("}")
    group_by = [k.group(1) for k in _clause(cur, "GROUP BY", _VAR_AT)]
    having = _parse_constraint(cur, prefixes) if cur.try_kw("HAVING") else None
    order = [
        (k.group(2) or k.group(3), (k.group(1) or "").upper() == "DESC")
        for k in _clause(cur, "ORDER BY", _ORDER_KEY)
    ]
    cut: Dict[str, int] = {}
    for kw in ("LIMIT", "OFFSET", "LIMIT"):  # either order, each once
        if kw not in cut and cur.try_kw(kw):
            n = _INT_AT.match(cur.s, cur.i)
            if n is None:
                raise ProcessorException(f"{kw} needs a number in: {cur.ctx!r}")
            cut[kw] = int(n.group(1))
            cur.i = n.end()
    if cur.peek() not in ("", "}"):
        raise ProcessorException(
            f"Unexpected {cur.s[cur.i:cur.i + 30]!r} after the WHERE group "
            f"in: {cur.ctx!r} (solution modifiers come in the order GROUP "
            "BY, HAVING, ORDER BY, LIMIT/OFFSET, each at most once)"
        )
    return _Select(
        items, m.group(1) is not None, group, group_by, having, order,
        cut.get("LIMIT"), cut.get("OFFSET"),
    )


def _parse_group(cur: _Cur, prefixes: Dict[str, str]) -> _Group:
    elements: List[tuple] = []
    filters: List[tuple] = []
    pats: List[tuple] = []

    def flush() -> None:
        if pats:
            elements.append(("bgp", list(pats)))
            pats.clear()

    while True:
        ch = cur.peek()
        if ch == "" or ch == "}":
            break
        if ch == ".":
            cur.i += 1
            continue
        if cur.try_kw("OPTIONAL"):
            flush()
            cur.expect("{")
            g = _parse_group(cur, prefixes)
            cur.expect("}")
            elements.append(("optional", g))
            continue
        if cur.try_kw("FILTER"):
            filters.append(_parse_constraint(cur, prefixes))
            continue
        if cur.try_kw("MINUS"):
            flush()
            cur.expect("{")
            g = _parse_group(cur, prefixes)
            cur.expect("}")
            elements.append(("minus", g))
            continue
        if cur.try_kw("GRAPH"):
            flush()
            gterm = _parse_term(cur.term(), prefixes)
            if gterm[0] == "lit":
                raise ProcessorException(
                    f"GRAPH needs an IRI or variable in: {cur.ctx!r}"
                )
            cur.expect("{")
            g = _parse_group(cur, prefixes)
            cur.expect("}")
            elements.append(("graphpat", gterm, g))
            continue
        if cur.try_kw("BIND"):
            flush()
            elements.append(_parse_bind(cur, prefixes))
            continue
        if cur.try_kw("VALUES"):
            flush()
            elements.append(_parse_values(cur, prefixes))
            continue
        if ch == "{":
            flush()
            cur.i += 1
            if cur.try_kw("SELECT"):
                elements.append(("subselect", _parse_select(cur, prefixes)))
                cur.expect("}")
                continue
            arms = [_parse_group(cur, prefixes)]
            cur.expect("}")
            while cur.try_kw("UNION"):
                cur.expect("{")
                arms.append(_parse_group(cur, prefixes))
                cur.expect("}")
            elements.append(
                ("union", arms) if len(arms) > 1 else ("group", arms[0])
            )
            continue
        s = _parse_term(cur.term(), prefixes)
        p = _parse_predicate(cur, prefixes)
        o = _parse_term(cur.term(), prefixes)
        pats.append((s, p, o))
        cur.try_ch(".")
    flush()
    return _Group(elements, filters)


def parse_query(where_clause: str) -> _Select:
    """Parse ``PREFIX* SELECT ...``; any other text around it raises."""
    cur = _Cur(where_clause, where_clause)
    prefixes: Dict[str, str] = {}
    while (m := _PREFIX_DECL.match(cur.s, cur.i)) is not None:
        prefixes[m.group(1)] = m.group(2)
        cur.i = m.end()
    if not cur.try_kw("SELECT"):
        raise ProcessorException(
            f"Unsupported query (need PREFIX* SELECT..WHERE{{..}}) near "
            f"{cur.s[cur.i:cur.i + 30]!r}: {where_clause!r}"
        )
    query = _parse_select(cur, prefixes)
    if cur.peek():
        raise ProcessorException(
            f"Trailing content {cur.s[cur.i:].strip()!r} in: {where_clause!r}"
        )
    return query


# ---------------------------------------------------------------------------
# Expression evaluation

class _FilterUnbound(Exception):
    """SPARQL error semantics: an unbound var poisons the expression."""


def _as_comparable(term):
    """(numeric?, value) — numbers compare numerically, rest lexically."""
    lex = term.value if isinstance(term, IriNode) else term.lexical
    try:
        return (True, float(lex))
    except (TypeError, ValueError):
        return (False, lex)


def _str_form(term) -> str:
    """SPARQL STR(): IRI → its string, literal → its lexical form."""
    return term.value if isinstance(term, IriNode) else term.lexical


def _eval(node, binding):
    """Evaluate an expression over one binding (or aggregated row): a
    bool for a boolean-valued node, else a term. An unbound variable
    raises _FilterUnbound."""
    kind = node[0]
    if kind == "const":
        return node[1]
    if kind == "var":
        term = binding.get(node[1])
        if term is None:
            raise _FilterUnbound(node[1])
        return term
    if kind == "or":
        # SPARQL three-valued logical-or: error || true = true, but
        # error || false = error (the error must propagate so that a
        # negation above us drops the binding; returning plain false
        # here would keep it). Only both-arms-false is a definitive
        # false.
        lhs = _try_eval(node[1], binding)
        rhs = _try_eval(node[2], binding)
        if lhs or rhs:
            return True
        if lhs is None or rhs is None:
            raise _FilterUnbound("errored arm in ||")
        return False
    if kind == "and":
        # Three-valued logical-and, mirrored: false && error = false;
        # error && true = error.
        lhs = _try_eval(node[1], binding)
        rhs = _try_eval(node[2], binding)
        if lhs is False or rhs is False:
            return False
        if lhs is None or rhs is None:
            raise _FilterUnbound("errored arm in &&")
        return True
    if kind == "not":
        return not _eval(node[1], binding)
    if kind == "regex":
        return node[2].search(_str_form(_value(node[1], binding))) is not None
    if kind == "cmp":
        ln, a = _as_comparable(_value(node[2], binding))
        rn, b = _as_comparable(_value(node[3], binding))
        if not (ln and rn):
            a, b = str(a), str(b)
        return _CMP[node[1]](a, b)
    # fn: string functions over the arguments' STR() forms
    fn, args = node[1], [_str_form(_value(a, binding)) for a in node[2]]
    if fn == "STR":
        return LitNode(args[0])
    if fn == "CONCAT":
        return LitNode("".join(args))
    if fn == "UCASE":
        return LitNode(args[0].upper())
    if fn == "LCASE":
        return LitNode(args[0].lower())
    return LitNode(str(len(args[0])))  # STRLEN


def _value(node, binding):
    """``_eval`` as a term: a boolean becomes its ``xsd:boolean`` literal."""
    v = _eval(node, binding)
    if isinstance(v, bool):
        return LitNode("true" if v else "false", datatype=XSD.boolean)
    return v


def _try_eval(node, binding):
    try:
        return _eval(node, binding)
    except _FilterUnbound:
        return None


def _order_key(term):
    """Total order for ORDER BY: unbound < IRIs < numeric literals <
    other literals; numeric-aware inside literals, else lexical.
    Positionally type-stable so mixed rows always compare."""
    if term is None:
        return (0, "", 0.0, "")
    if isinstance(term, IriNode):
        return (1, term.value, 0.0, "")
    lex = term.lexical
    try:
        return (2, "", float(lex), lex)
    except (TypeError, ValueError):
        return (3, lex, 0.0, term.lang or "")


def _fmt_num(x: float) -> str:
    """Integral results render without a decimal point (SPARQL integer
    arithmetic stays integer; also the partition-stable choice)."""
    return str(int(x)) if float(x).is_integer() else repr(float(x))


def _agg_value(fn: str, var: Optional[str], distinct: bool, bs: List[dict]):
    """One aggregate over a solution group → term (or None = unbound)."""
    if fn == "COUNT":
        if var is None:
            if distinct:
                return LitNode(
                    str(len({tuple(sorted(b.items())) for b in bs}))
                )
            return LitNode(str(len(bs)))
        terms = [b.get(var) for b in bs if b.get(var) is not None]
        return LitNode(str(len(set(terms)) if distinct else len(terms)))
    terms = [b.get(var) for b in bs if b.get(var) is not None]
    if distinct:
        terms = list(set(terms))
    if fn in ("MIN", "MAX"):
        if not terms:
            return None
        pick = min if fn == "MIN" else max
        return pick(terms, key=_order_key)
    # SUM / AVG over the numeric literals; non-numeric values are skipped
    nums = []
    for t in terms:
        if isinstance(t, LitNode):
            try:
                nums.append(float(t.lexical))
            except (TypeError, ValueError):
                pass
    if fn == "SUM":
        return LitNode(_fmt_num(sum(nums)))  # SUM over nothing is 0
    if not nums:
        return None  # AVG over nothing is an error → unbound
    return LitNode(_fmt_num(sum(nums) / len(nums)))


def _compatible_shares(b: Dict[str, object], m: Dict[str, object]) -> bool:
    """MINUS test: b and m agree on every shared bound var AND share at
    least one (domain-disjoint solutions remove nothing, per SPARQL)."""
    shared = False
    for k, v in m.items():
        if v is None:
            continue
        bv = b.get(k)
        if bv is None:
            continue
        if bv != v:
            return False
        shared = True
    return shared


def _join(bindings: List[dict], rows: List[dict]) -> List[dict]:
    """Compatible-merge join of the bindings in flow with VALUES or
    subquery rows: shared vars must agree; an unbound (None) row value
    joins with anything."""
    out: List[dict] = []
    for b in bindings:
        for row in rows:
            nb = dict(b)
            for v, t in row.items():
                if t is None:
                    continue
                prev = nb.get(v)
                if prev is None:
                    nb[v] = t
                elif prev != t:
                    break
            else:
                out.append(nb)
    return out


def _term_key(t):
    """Deterministic sort key for term sets (path results are sets; the
    engine's output must be byte-stable across runs and executors)."""
    if isinstance(t, IriNode):
        return (0, t.value, "")
    return (1, t.lexical, t.lang or "")


class MiniGraph:
    """An in-memory triple set with group-graph-pattern evaluation.

    Small by construction (it is broadcast), so evaluation is a simple
    binding-propagating nested-loop join with a predicate index; property
    paths BFS over the same index.
    """

    def __init__(self, rows: Iterable[GraphRow]) -> None:
        self.rows: List[GraphRow] = list(rows)
        self._by_pred: Dict[str, List[GraphRow]] = {}
        for r in self.rows:
            self._by_pred.setdefault(r[1], []).append(r)
        self._nodes_cache: Optional[List[object]] = None
        self._subj_cache: Optional[Dict[str, List[GraphRow]]] = None
        self._obj_cache: Optional[Dict[object, List[GraphRow]]] = None

    def _by_subj(self) -> Dict[str, List[GraphRow]]:
        if self._subj_cache is None:
            ix: Dict[str, List[GraphRow]] = {}
            for r in self.rows:
                ix.setdefault(r[0], []).append(r)
            self._subj_cache = ix
        return self._subj_cache

    def _by_obj(self) -> Dict[object, List[GraphRow]]:
        if self._obj_cache is None:
            ix: Dict[object, List[GraphRow]] = {}
            for r in self.rows:
                ix.setdefault(self._term_of(r, 2), []).append(r)
            self._obj_cache = ix
        return self._obj_cache

    def _negset_step(self, ast, node, forward: bool) -> set:
        """One negated-property-set hop from ``node``. ``forward`` walks
        path direction (fwd members leave via subject, inverse members
        arrive via object); False mirrors both components."""
        _, fwd_excl, bwd_excl, has_fwd, has_bwd = ast
        out: set = set()
        if has_fwd:
            if forward:
                if isinstance(node, IriNode):
                    out.update(
                        self._term_of(r, 2)
                        for r in self._by_subj().get(node.value, ())
                        if r[1] not in fwd_excl
                    )
            else:
                out.update(
                    IriNode(r[0])
                    for r in self._by_obj().get(node, ())
                    if r[1] not in fwd_excl
                )
        if has_bwd:
            if forward:
                out.update(
                    IriNode(r[0])
                    for r in self._by_obj().get(node, ())
                    if r[1] not in bwd_excl
                )
            elif isinstance(node, IriNode):
                out.update(
                    self._term_of(r, 2)
                    for r in self._by_subj().get(node.value, ())
                    if r[1] not in bwd_excl
                )
        return out

    def __len__(self) -> int:
        return len(self.rows)

    @staticmethod
    def _term_of(row: GraphRow, pos: int):
        if pos == 0:
            return IriNode(row[0])
        if pos == 1:
            return IriNode(row[1])
        if row[2] == "iri":
            return IriNode(row[3])
        return LitNode(row[3], lang=row[4])

    @staticmethod
    def _matches(term_spec, term) -> bool:
        kind = term_spec[0]
        if kind == "iri":
            return isinstance(term, IriNode) and term.value == term_spec[1]
        if kind == "lit":
            # strict RDF term equality: a plain literal does NOT match a
            # language-tagged one ("foo" != "foo"@en) — the same rule
            # path evaluation and VALUES already apply via LitNode
            return (
                isinstance(term, LitNode)
                and term.lexical == term_spec[1]
                and term.lang == term_spec[2]
            )
        return True  # var

    # -- property paths ------------------------------------------------------
    def _all_nodes(self) -> List[object]:
        if self._nodes_cache is None:
            ns = {IriNode(r[0]) for r in self.rows}
            ns.update(self._term_of(r, 2) for r in self.rows)
            self._nodes_cache = sorted(ns, key=_term_key)
        return self._nodes_cache

    def _path(self, ast, node, forward: bool) -> set:
        """All terms reachable from ``node`` via ``ast`` walking ``forward``;
        backward, all terms that reach ``node``."""
        k = ast[0]
        if k == "negset":
            return self._negset_step(ast, node, forward)
        if k == "pred":
            rows = self._by_pred.get(ast[1], ())
            if not forward:
                return {IriNode(r[0]) for r in rows if self._term_of(r, 2) == node}
            if not isinstance(node, IriNode):
                return set()
            return {self._term_of(r, 2) for r in rows if r[0] == node.value}
        if k == "inv":
            return self._path(ast[1], node, not forward)
        if k == "seq":
            cur = {node}
            for sub in ast[1] if forward else reversed(ast[1]):
                if not cur:
                    break
                cur = set().union(*(self._path(sub, t, forward) for t in cur))
            return cur
        if k == "alt":
            return set().union(*(self._path(sub, node, forward) for sub in ast[1]))
        if k == "maybe":
            return {node} | self._path(ast[1], node, forward)
        # star / plus — BFS to fixpoint over the sub-path
        reach: set = set()
        frontier = {node}
        while frontier:
            step = set().union(*(self._path(ast[1], t, forward) for t in frontier))
            frontier = step - reach
            reach |= step
        return reach | {node} if k == "star" else reach

    def _eval_path_pattern(self, pat, bindings):
        s_spec, p_spec, o_spec = pat
        ast = p_spec[1]
        out: List[Dict[str, object]] = []
        for b in bindings:
            s_t = b.get(s_spec[1]) if s_spec[0] == "var" else _const_term(s_spec)
            o_free = o_spec[0] == "var" and b.get(o_spec[1]) is None
            if s_t is not None:
                for e in sorted(self._path(ast, s_t, True), key=_term_key):
                    if o_free:
                        nb = dict(b)
                        nb[o_spec[1]] = e
                        out.append(nb)
                    elif o_spec[0] == "var":
                        if b[o_spec[1]] == e:
                            out.append(dict(b))
                    elif self._matches(o_spec, e):
                        out.append(dict(b))
            elif not o_free:
                o_t = (
                    b[o_spec[1]] if o_spec[0] == "var" else _const_term(o_spec)
                )
                for st in sorted(self._path(ast, o_t, False), key=_term_key):
                    nb = dict(b)
                    nb[s_spec[1]] = st
                    out.append(nb)
            elif s_spec[1] == o_spec[1]:
                # SAME unbound variable on both ends (?x path ?x): only
                # terms that reach THEMSELVES qualify — writing the
                # source then the target into one binding slot would
                # silently keep mismatched pairs
                for n in self._all_nodes():
                    if n in self._path(ast, n, True):
                        nb = dict(b)
                        nb[s_spec[1]] = n
                        out.append(nb)
            else:
                # both endpoints unbound: range over the graph's terms
                for n in self._all_nodes():
                    for e in sorted(self._path(ast, n, True), key=_term_key):
                        nb = dict(b)
                        nb[s_spec[1]] = n
                        nb[o_spec[1]] = e
                        out.append(nb)
        return out

    # -- pattern / group evaluation ------------------------------------------
    def _eval_simple_pattern(self, pat, bindings):
        new_bindings: List[Dict[str, object]] = []
        # Narrow the scan through the predicate index when bound.
        cand = self._by_pred.get(pat[1][1], []) if pat[1][0] == "iri" else self.rows
        for b in bindings:
            for row in cand:
                nb = dict(b)
                ok = True
                for pos in range(3):
                    spec = pat[pos]
                    term = self._term_of(row, pos)
                    if spec[0] == "var":
                        prev = nb.get(spec[1])
                        if prev is None:
                            nb[spec[1]] = term
                        elif prev != term:
                            ok = False
                            break
                    elif not self._matches(spec, term):
                        ok = False
                        break
                if ok:
                    new_bindings.append(nb)
        return new_bindings

    def _eval_bgp(
        self, patterns: List[tuple], bindings: List[Dict[str, object]]
    ) -> List[Dict[str, object]]:
        for pat in patterns:
            if pat[1][0] == "path":
                bindings = self._eval_path_pattern(pat, bindings)
            else:
                bindings = self._eval_simple_pattern(pat, bindings)
            if not bindings:
                break
        return bindings

    def _eval_group(self, group: _Group, bindings, named=None):
        for el in group.elements:
            kind = el[0]
            if kind == "bgp":
                bindings = self._eval_bgp(el[1], bindings)
            elif kind == "optional":
                # OPTIONAL = left join: every extension if any, else the
                # binding survives with the optional vars unbound
                extended: List[Dict[str, object]] = []
                for b in bindings:
                    ext = self._eval_group(el[1], [b], named)
                    extended.extend(ext if ext else [b])
                bindings = extended
            elif kind == "group":
                nxt: List[Dict[str, object]] = []
                for b in bindings:
                    nxt.extend(self._eval_group(el[1], [b], named))
                bindings = nxt
            elif kind == "graphpat":
                gspec, sub = el[1], el[2]
                graphs = named or {}
                nxt = []
                for b in bindings:
                    if gspec[0] == "iri":
                        keys = [gspec[1]]
                    else:  # variable graph name
                        bound = b.get(gspec[1])
                        if bound is not None:
                            keys = [
                                bound.value if isinstance(bound, IriNode)
                                else str(bound)
                            ]
                        else:
                            keys = sorted(graphs)
                    for key in keys:
                        g2 = graphs.get(key)
                        if g2 is None and gspec[0] == "iri":
                            raise ProcessorException(
                                f"Unknown graph {key!r} in GRAPH pattern "
                                f"(known: {sorted(graphs)})"
                            )
                        if g2 is None:
                            continue
                        seed = dict(b)
                        if gspec[0] == "var" and b.get(gspec[1]) is None:
                            seed[gspec[1]] = IriNode(key)
                        nxt.extend(g2._eval_group(sub, [seed], named))
                bindings = nxt
            elif kind == "minus":
                # SPARQL algebra: the MINUS group is evaluated
                # INDEPENDENTLY — outer bindings do not flow in
                m_solutions = self._eval_group(el[1], [{}], named)
                bindings = [
                    b
                    for b in bindings
                    if not any(_compatible_shares(b, m) for m in m_solutions)
                ]
            elif kind == "bind":
                _, expr, var = el
                nxt = []
                for b in bindings:
                    if b.get(var) is not None:
                        raise ProcessorException(
                            f"BIND target ?{var} is already bound"
                        )
                    nb = dict(b)
                    try:
                        nb[var] = _value(expr, b)
                    except _FilterUnbound:
                        pass  # expression error: var stays unbound
                    nxt.append(nb)
                bindings = nxt
            elif kind == "values":
                bindings = _join(bindings, el[1])
            elif kind == "subselect":
                # SPARQL subquery: evaluated bottom-up on an empty
                # binding; only the projected vars join outward
                bindings = _join(bindings, self._solve(el[1], named))
            else:  # union — concatenation of the arms' extensions
                nxt = []
                for b in bindings:
                    for arm in el[1]:
                        nxt.extend(self._eval_group(arm, [b], named))
                bindings = nxt
            if not bindings:
                break
        # FILTERs scope over the whole group (post-OPTIONAL); an unbound
        # var in a filter is a SPARQL error → binding dropped.
        for f in group.filters:
            bindings = [b for b in bindings if _try_eval(f, b)]
        return bindings

    def _aggregate(self, bindings, selected, group_by: List[str]):
        """GROUP BY + aggregate projection → one row per group, groups
        in deterministic key order."""
        for it in selected:
            if it[0] == "var" and it[1] not in group_by:
                raise ProcessorException(
                    f"Selected variable ?{it[1]} must appear in GROUP BY "
                    "when the query aggregates"
                )
        groups: Dict[tuple, list] = {}
        for b in bindings:
            groups.setdefault(tuple(b.get(v) for v in group_by), []).append(b)
        if not group_by and not groups:
            groups[()] = []  # the implicit group: COUNT over nothing is 0
        rows = []
        for key in sorted(
            groups, key=lambda k: tuple(_order_key(t) for t in k)
        ):
            bs = groups[key]
            row: Dict[str, object] = {}
            for it in selected:
                if it[0] == "var":
                    row[it[1]] = key[group_by.index(it[1])]
                else:
                    _, fn, var, dist, out = it
                    row[out] = _agg_value(fn, var, dist, bs)
            rows.append(row)
        return rows

    def _solve(self, q: _Select, named) -> List[Dict[str, object]]:
        """Evaluate a SELECT's group on an empty binding and apply its
        solution modifiers: GROUP BY/aggregate → HAVING → ORDER BY →
        projection → DISTINCT → OFFSET → LIMIT."""
        bindings = self._eval_group(q.group, [{}], named)
        selected, group_by, order = q.items, q.group_by, q.order
        has_agg = selected != ["*"] and any(it[0] == "agg" for it in selected)
        if selected == ["*"] and group_by:
            raise ProcessorException(
                "SELECT * cannot be combined with GROUP BY — name the "
                "grouped variables explicitly"
            )
        if q.having is not None and not (has_agg or group_by):
            raise ProcessorException(
                "HAVING requires GROUP BY or an aggregate in the SELECT clause"
            )
        if has_agg or group_by:
            rows = self._aggregate(bindings, selected, group_by)
            if q.having is not None:
                rows = [r for r in rows if _try_eval(q.having, r)]
            for var, desc in reversed(order):
                rows.sort(key=lambda r: _order_key(r.get(var)), reverse=desc)
        else:
            # ORDER BY runs over the full bindings (keys need not be
            # selected); stable per-key passes in reverse key order give
            # the composite multi-key sort with mixed ASC/DESC directions.
            for var, desc in reversed(order):
                bindings.sort(
                    key=lambda b: _order_key(b.get(var)), reverse=desc
                )
            if selected == ["*"]:
                names = sorted({k for b in bindings for k in b})
                rows = [{v: b.get(v) for v in names} for b in bindings]
            else:
                rows = [
                    {it[1]: b.get(it[1]) for it in selected} for b in bindings
                ]
        if q.distinct:
            seen = set()
            deduped = []
            for r in rows:
                key = tuple(sorted(r.items()))
                if key not in seen:
                    seen.add(key)
                    deduped.append(r)
            rows = deduped
        if q.offset is not None:
            rows = rows[q.offset:]
        if q.limit is not None:
            rows = rows[:q.limit]
        return rows

    def query(
        self, where_clause: str, named: Optional[Dict[str, "MiniGraph"]] = None
    ) -> List[Dict[str, object]]:
        return self._solve(parse_query(where_clause), named)


# ---------------------------------------------------------------------------
# TTL-lite parsing (fixture ontologies)

_TTL_PREFIX = re.compile(r"\s*@prefix\s+([A-Za-z][\w-]*)\s*:\s*<([^>]*)>\s*\.")


def parse_ttl(text: str) -> List[GraphRow]:
    """Parse a simple Turtle subset: ``@prefix`` decls, ``#`` comment
    lines and one-triple statements ``s p o .`` whose terms the query
    term lexer reads. Predicate lists (``;``), object lists (``,``) and
    ``^^`` datatypes are out of scope; the first statement that uses one,
    or that cannot be read otherwise, raises ProcessorException."""
    body = "\n".join(
        ln for ln in text.splitlines() if not ln.lstrip().startswith("#")
    )
    cur = _Cur(body, "Turtle")
    prefixes: Dict[str, str] = {}
    rows: List[GraphRow] = []
    while cur.peek():
        m = _TTL_PREFIX.match(cur.s, cur.i)
        if m:
            prefixes[m.group(1)] = m.group(2)
            cur.i = m.end()
            continue
        start = cur.i
        try:
            s, p, o = (_parse_term(cur.term(), prefixes) for _ in range(3))
            cur.expect(".")
            if s[0] != "iri" or p[0] != "iri" or o[0] == "var":
                raise ProcessorException("needs an IRI subject and predicate")
        except ProcessorException as ex:
            stmt = body[start:].split("\n", 1)[0]
            raise ProcessorException(
                f"Cannot read Turtle statement {stmt!r}: {ex}"
            ) from ex
        if o[0] == "iri":
            rows.append((s[1], p[1], "iri", o[1], None))
        else:
            rows.append((s[1], p[1], "literal", o[1], o[2]))
    return rows


def make_query_fn(graphs: Dict[str, MiniGraph]):
    """Build the interpreter's query_fn over named broadcast graphs."""

    def query_fn(select_vars: List[str], from_graph: str, where_clause: str):
        g = graphs.get(from_graph)
        if g is None:
            raise ProcessorException(f"Unknown graph for select: {from_graph!r}")
        # every registered graph is addressable via GRAPH <name> { ... }
        rows = g.query(where_clause, named=graphs)
        return [{v: r.get(v) for v in select_vars} for r in rows]

    return query_fn
