"""Per-document workflow interpreter and the op table it runs from.

Executes a compiled :class:`~..workflow.compile.WorkflowProgram` against one
document's text, producing flattened triple rows + stats. This is pure
Python with zero Spark dependencies: the same class is

* the kernel that runs inside Arrow-batched ``mapInPandas`` on executors
  (one instance per (document, workflow), amortized over a batch), and
* the single-process oracle used by the test suite and golden generation.

``OPS`` lists every keyword once with its ``prepare`` function and its
handler. :func:`compile_plan` walks the YAML once, on the driver: each
step becomes a ``(handler, prepared args)`` pair, with attributes read and
type-checked, flags resolved, regexes compiled, template attributes
segmented, nested plans compiled and the ``do-<i>-<j>`` cell table built.
Handlers run from those arguments and never read the YAML again. A step
whose preparation fails compiles to a step that raises the same error when
a document reaches it; a triple step's ``predicates:``/``objects:`` tree
compiles to flat emissions.

Semantic parity notes — the behaviors below reproduce the reference
(`/root/reference/kg_text_to_ttl/text_to_turtle_processor.py`) including
its quirks, because triple-set agreement (P/R >= 0.95) is the gate:

* dispatch picks the FIRST keyword in ``OPS`` order present in a step
  (processor.py:711-718), once, when the step is compiled;
* match ops default to ``re.DOTALL`` and ``flags:`` *adds* to that
  default rather than replacing it (processor.py:1228, 2743-2760);
* template expansion (processor.py:2599-2669): innermost-first iterative
  rewrite; ``@{?...}`` yields ``""`` only for undefined *named-match*
  refs; an undefined variable expands to the literal string ``"None"``
  because the reference stringifies before its None-check
  (processor.py:2644) — replicated for byte parity;
* ``break:`` skips the rest of the current row of the innermost running
  ``pre:``-scanned ``match-dimensions`` table, the scope ``tag-dimension``
  writes to; outside one it does nothing (not checked against the
  reference's ``break_dimension``, processor.py:1970, 1817-1819);
* the literal coercion cascade incl. the ``^`` string-escape, the
  empty-float→``nan`` rule, the falsy-value table for ``bool:``, and the
  fall-through (error) behavior of ``date: today`` / ``datetime: now``
  (processor.py:2370-2524);
* stats: ``score += 1 - 1/max(1, match_len)`` per successful match;
  ``no_triples`` counts every add including inverses and duplicates
  (processor.py:2713-2725); the emitted triple *set* is deduplicated
  (rdflib graph set semantics, processor.py:2319).

Documented deviations (reference bugs not worth reproducing because no
valid workflow can rely on them):

* ``select:`` with a ``do:`` body crashes in the reference on the first
  result row (``no_rows += 1`` without ``nonlocal``, processor.py:2184);
  here it works: per-row variable binding + body execution.
* template expansion is capped at 100k rewrites (the reference loops
  forever on self-reproducing expansions).
* a ``sequence-of`` alternative that wins with an empty match at the
  cursor raises: the reference's lexer never moves its cursor past it and
  loops forever (processor.py:1456-1618).
* a triple whose subject, predicate or IRI object holds a character that
  N-Triples ``IRIREF`` forbids raises: ``<>"{}|^``, the backtick, the
  backslash and U+0000-U+0020. rdflib's ``URIRef.n3()`` rejects the same
  set except the control characters U+0000-U+001F, which the reference
  writes into a broken line.
* ``inverse:`` on a literal object raises after the forward triple: Turtle
  has no literal subject, and the reference hands rdflib one for the
  reversed triple.
* a mapping pair maps to ``str(to:)`` on every hit; the reference does so
  only on an exact hit and fails to expand a non-string on the others.
* every step attribute is read once, when the step compiles, and a step's
  first bad attribute is its error before any run-time work: a step that
  is broken twice (its first template fails to expand and a later
  attribute is missing or ill-typed) reports the attribute, where the
  reference reports the expansion error it meets first.
* a ``set`` with a list or mapping ``to:`` gives each document its own
  copy, so ``append:`` grows that document's list only. Storing the
  workflow's own value would let one document's appends reach every later
  document the same plan runs (not checked against the reference's ``set``).
"""

from __future__ import annotations

import copy
import html as _html
import importlib
import re
from dataclasses import dataclass, field
from datetime import date, datetime
from itertools import product
from typing import TYPE_CHECKING, Any, Callable, Dict, List, Optional, Tuple

from ..core.errors import ProcessorException, WorkflowCompileError
from ..core.terms import IriNode, LitNode, XSD

if TYPE_CHECKING:
    from types import ModuleType

    from .compile import WorkflowProgram

# ---------------------------------------------------------------------------
# Regex helpers

_FLAG_BY_NAME = {
    "I": re.IGNORECASE,
    "IGNORECASE": re.IGNORECASE,
    "L": re.LOCALE,
    "LOCALE": re.LOCALE,
    "A": re.ASCII,
    "ASCII": re.ASCII,
    "M": re.MULTILINE,
    "MULTILINE": re.MULTILINE,
    "S": re.DOTALL,
    "DOTALL": re.DOTALL,
    "X": re.VERBOSE,
    "VERBOSE": re.VERBOSE,
}

# Template reference: @{?name.group:func} (processor.py:2624).
_TEMPLATE_REF = re.compile(
    r"@\{\??(([a-zA-Z0-9_-]+)\.)?((\d+)|([a-zA-Z][a-zA-Z0-9_-]*))(\:[a-zA-Z]+)?\}"
)

# prefix:member node reference (processor.py:2347).
_PREFIX_REF = re.compile(r"\s*([a-zA-Z][a-zA-Z0-9]*)\:([a-zA-Z][a-zA-Z0-9_\.\-/#]*)\s*")

_IFDEF_MATCH_REF = re.compile(r"(\w+)\.(\d+)")

# A static ``lang:`` value: the N-Triples LANGTAG production.
_LANG_TAG = re.compile(r"[a-zA-Z]+(-[a-zA-Z0-9]+)*")

# A character the N-Triples IRIREF production forbids.
_BAD_IRI_CHAR = re.compile(r'[<>"{}|^`\\\x00-\x20]')

_MAX_TEMPLATE_REWRITES = 100_000

_NOT_IRI_CHAR = re.compile(r"[^a-zA-Z0-9_-]")
_LINE_BREAKS = re.compile(r"[\n\t\r]+")

# Template functions by the name after the colon; an unknown name is ignored.
_TEMPLATE_FUNCS: Dict[str, Callable[[str], str]] = {
    "iri": lambda s: _NOT_IRI_CHAR.sub("_", s.strip()),
    "trim": str.strip,
    "norm": lambda s: _html.unescape(_LINE_BREAKS.sub(" ", s.strip())),
}


def _segment(template: Any) -> tuple:
    """``(template, parts)``: literal strings and ``(raw, optional, match_id,
    group, func name)`` refs in order, or None when no ref is found. A value
    that is not a string is its own one part: joining it fails when a
    document expands it, as the reference's expansion does."""
    if not isinstance(template, str):
        return (template, (template,))
    parts: List[Any] = []
    pos = 0
    for m in _TEMPLATE_REF.finditer(template):
        if m.start(0) > pos:
            parts.append(template[pos : m.start(0)])
        gn: Any = int(m.group(4)) if m.group(4) else m.group(5)
        func = m.group(6) and m.group(6)[1:]
        parts.append((m.group(0), m.group(0).startswith("@{?"), m.group(2), gn,
                      func if func in _TEMPLATE_FUNCS else None))
        pos = m.end(0)
    if not parts:
        return (template, None)
    if pos < len(template):
        parts.append(template[pos:])
    return (template, tuple(parts))


# ---------------------------------------------------------------------------
# Result containers


@dataclass
class DocResult:
    """Everything one (document, workflow) run produces."""

    # (subj, pred, obj_kind, obj_lexical, obj_lang, obj_datatype) rows,
    # deduped, in order
    triples: List[tuple] = field(default_factory=list)
    no_matches: int = 0
    no_triples: int = 0  # raw adds incl. inverse + duplicates
    total_match_len: int = 0
    score: float = 0.0
    texts: Dict[str, str] = field(default_factory=dict)  # dump: file outputs
    saved_as: List[str] = field(default_factory=list)  # save-as: requests
    log: List[str] = field(default_factory=list)
    error: Optional[str] = None


QueryFn = Callable[[List[str], str, str], List[Dict[str, Any]]]


# ---------------------------------------------------------------------------
# Compilation: YAML steps → (handler, prepared args)


def _raise(interp: "DocInterpreter", error: Exception) -> None:
    """Handler of a step (or object spec) whose preparation failed."""
    raise copy.copy(error)


class _StepReader:
    """Reads one step's attributes once, on the driver.

    An attribute error is what the step raises when a document reaches it,
    before any run-time work, so the first one in read order is kept in
    ``errors`` rather than raised, and the rest of the step (nested plans,
    static patterns) is still compiled and checked. A ``template`` read
    segments the value.
    ``scope`` is None, or for an entry of a ``predicates:``/``objects:``
    list the subject, predicate and inverse its enclosing triple step
    implies.
    """

    def __init__(self, step, path: str, kw: str, warnings: List[str], errors=None, scope=None):
        self.step, self.path, self.kw, self.warnings = step, path, kw, warnings
        self.errors: List[Exception] = [] if errors is None else errors
        self.scope: Optional[tuple] = scope

    def fail(self, error: Exception) -> None:
        if not self.errors:
            self.errors.append(error.with_traceback(None))

    def get(self, name: str, expected_type=None, optional: bool = False, template: bool = False):
        try:
            val = self.step.get(name)  # a non-mapping entry fails here too
            if val is None:
                if optional:
                    return None
                raise ProcessorException(f"step is missing its required {name!r} attribute")
            if expected_type is not None and not isinstance(val, expected_type):
                raise ProcessorException(
                    f"Step attribute '{name}' has invalid type; expected {expected_type}"
                )
            return _segment(val) if template else val
        except Exception as ex:
            self.fail(ex)
            return None

    def plan(self, name: str, optional: bool = False):
        body = self.get(name, list, optional)
        return None if body is None else compile_plan(body, f"{self.path}.{name}", self.warnings)

    def flags(self, init: int = re.DOTALL) -> int:
        """The ``flags:`` names OR-ed onto ``init``: match ops keep their DOTALL
        default even when ``flags:`` is given (processor.py:2754-2760)."""
        src = self.get("flags", str, optional=True)
        flags = init
        for name in () if src is None else re.split(r"\s+", src):
            if name not in _FLAG_BY_NAME:
                self.fail(ProcessorException(f"unrecognized regex flag name {name!r}"))
                return init
            flags |= _FLAG_BY_NAME[name]
        return flags

    @staticmethod
    def rx(pattern, flags: int):
        """A single static pattern (None when its read failed)."""
        return None if pattern is None else re.compile(pattern, flags)

    @staticmethod
    def search(pattern, flags: int):
        """The pattern of match:/within:, a string or a list of strings."""
        if isinstance(pattern, list):
            # non-strings stay: the handler rejects one only if it gets to it
            return [re.compile(p, flags) if isinstance(p, str) else p for p in pattern]
        if isinstance(pattern, str) or pattern is None:
            return _StepReader.rx(pattern, flags)
        raise ProcessorException(
            f"match value {pattern!r} is neither a string (single RE) nor a list"
        )

    def body(self, value, path: str) -> list:
        """A match-dimensions cell body; like the reference, a non-list
        body is iterated as steps when its cell is reached."""
        try:
            iter(value)
        except TypeError as ex:
            return [(_raise, ex.with_traceback(None))]
        return compile_plan(value, path, self.warnings)

    def object(self, obj, path: str):
        """An object spec as a ``(function, argument)`` pair evaluated at
        emission time; a spec that fails preparation raises only then."""
        if isinstance(obj, list):
            return (DocInterpreter._parse_plan_literal, (compile_plan(obj, path, self.warnings), obj))
        if isinstance(obj, dict):
            return _prepare(
                DocInterpreter._prep_literal,
                DocInterpreter._parse_structured_literal,
                _StepReader(obj, path, "object", self.warnings),
            )
        return (DocInterpreter._parse_literal, _segment(obj))


def _prepare(prepare: Callable, handler: Callable, r: _StepReader) -> tuple:
    """``(handler, prepare(r))``, or a ``_raise`` step carrying the first
    error of the preparation. A bad static regex fails the compile."""
    try:
        args = prepare(r)
    except re.error as ex:
        raise WorkflowCompileError(f"{r.path}: invalid regex for {r.kw!r}: {ex}") from ex
    except WorkflowCompileError:
        raise
    except Exception as ex:  # raised when a document reaches the step
        r.fail(ex)
    return (_raise, r.errors[0]) if r.errors else (handler, args)


def _compile_step(step: Any, path: str, warnings: List[str], scope: Optional[tuple]) -> tuple:
    if not isinstance(step, dict):
        return (_raise, ProcessorException(f"workflow step must be a mapping, got {step!r}"))
    kw = next((k for k in OPS if k in step), None)
    if kw is None:
        raise WorkflowCompileError(
            f"{path}: no operation keyword in step keys {sorted(step)!r}"
        )
    if kw == "exec" or (kw == "set" and "eval" in step):
        warnings.append(
            f"{path}: workflow embeds Python code via "
            f"{'exec' if kw == 'exec' else 'set/eval'}; it will run "
            "inside executor UDFs (trusted-workflow escape hatch)"
        )
    prepare, handler = OPS[kw]
    compiled = _prepare(prepare, handler, _StepReader(step, path, kw, warnings, scope=scope))
    if scope is not None and handler is not DocInterpreter._op_triple:
        # The reference passes the implied subject/predicate kwargs to
        # every handler and crashes with a TypeError (processor.py:711-718);
        # raise the engine's typed error instead of dropping the terms.
        return (_raise, ProcessorException(
            f"Step {kw!r} is not a triple op but appears inside a "
            f"predicates:/objects: scope"
        ))
    return compiled


def compile_plan(plan, path: str, warnings: List[str], scope: Optional[tuple] = None) -> list:
    """Compile a list of YAML steps; ``path`` names it in compile errors and
    ``warnings``; ``scope`` is a ``predicates:``/``objects:`` list's scope.
    Non-mapping steps compile to steps that raise; a step with no keyword
    or a bad static regex raises :class:`WorkflowCompileError`."""
    return [
        _compile_step(step, f"{path}[{i}]", warnings, scope)
        for i, step in enumerate(plan)
    ]


class DocInterpreter:
    """Interprets one workflow against one document text.

    :param text: the document's (extracted) text.
    :param query_fn: handler for ``select:`` ops —
        ``(selected_vars, from_graph, where_clause) -> [ {var: term} ]``
        where terms are :class:`IriNode` / :class:`LitNode` / ``str``.
    :param collect_log: keep echo/info lines (off by default at scale).
    """

    def __init__(
        self,
        text: str = "",
        query_fn: Optional[QueryFn] = None,
        collect_log: bool = False,
        initial_vars: Optional[Dict[str, Any]] = None,
    ) -> None:
        self.result = DocResult()
        self._text = text
        self._vars: Dict[str, Any] = dict(initial_vars or {})
        self._matches: Dict[str, re.Match] = {}
        self._prefixes: Dict[str, str] = {}
        self._mappings: Dict[str, Tuple[dict, list, int]] = {}
        self._procedures: Dict[str, list] = {}
        self._imports: Dict[str, ModuleType] = {}
        self._seen_triples: set = set()
        self._tables: List[list] = []  # per running pre: table: [tags per dimension, break flag]
        self._collect_log = collect_log
        self._query_fn = query_fn

    # -- public API ---------------------------------------------------------

    def run(self, program: "WorkflowProgram") -> DocResult:
        for handler, args in program.plan:
            handler(self, args)
        return self.result

    def _seq(self, plan: list, return_first_success: bool = False) -> Tuple[bool, Any]:
        """Run a compiled sub-op sequence; result is the last op's
        (success, value).

        An empty sequence is an error, as in the reference (which hits an
        UnboundLocalError at processor.py:2564).
        """
        success: Optional[bool] = None
        value: Any = None
        for handler, args in plan:
            success, value = handler(self, args)
            if success and return_first_success:
                return (True, value)
        if success is None:
            raise ProcessorException("cannot execute an empty step sequence")
        return (success, value)

    # -- logging --------------------------------------------------------------

    def _log(self, prefix: str, message: str) -> None:
        if self._collect_log:
            self.result.log.append(f"{prefix}{message}")

    # -- stats ----------------------------------------------------------------

    def _stat_match(self, match_len: int) -> None:
        self.result.no_matches += 1
        self.result.score += 1.0 - (1.0 / max(1, match_len))
        self.result.total_match_len += match_len

    # -- template expansion (processor.py:2599-2669) --------------------------

    def expand(self, template: tuple) -> str:
        """A template :func:`_segment` compiled: its refs evaluate left to
        right in one pass. A result that still holds ``@{`` (nesting like
        ``@{material-@{row}.1}``, or a value holding ``@{``) is segmented
        and expanded again, which converges to the reference's
        rewrite-until-no-refs fixpoint (processor.py:2622-2666)."""
        template, parts = template
        if parts is None:
            return template
        original = template
        try:
            for _ in range(_MAX_TEMPLATE_REWRITES):
                if parts is None:  # holds "@{" but no valid ref
                    return template
                out = []
                for part in parts:
                    if part.__class__ is not tuple:
                        out.append(part)
                        continue
                    raw, optional, match_id, gn, func = part
                    try:
                        if match_id:
                            if match_id in self._matches:
                                ext = self._matches[match_id].group(gn)
                            else:
                                if not optional:
                                    raise ProcessorException(
                                        f"no stored match has id {match_id} while "
                                        f"looking at template {template}"
                                    )
                                ext = ""
                        else:
                            # Reference quirk (processor.py:2644): the variable
                            # is stringified BEFORE the None-check, so an
                            # undefined variable expands to the literal string
                            # "None"; the latest-match fallback is unreachable.
                            ext = str(self._vars.get(gn))
                    except IndexError:
                        raise ProcessorException(
                            f"template references undefined group/variable {raw}"
                        )
                    if func is not None:
                        ext = _TEMPLATE_FUNCS[func](ext)
                    out.append(ext or "")
                result = "".join(out)
                if "@{" not in result or result == template:  # no ref made progress: fixpoint
                    return result
                template, parts = _segment(result)
            raise ProcessorException("template expansion did not converge (rewrite limit hit)")
        except Exception as ex:
            raise ProcessorException(f"template expansion failed for: {original}") from ex

    # -- node / literal parsing (processor.py:2349-2524) ----------------------

    def _parse_node(self, n: tuple) -> str:
        n = self.expand(n)
        m = _PREFIX_REF.match(n)
        if m:
            ns = self._prefixes.get(m.group(1))
            if ns is None:
                raise ProcessorException(f"no prefix declaration in scope for {m.group(1)!r}")
            return ns + m.group(2)
        return n

    def _parse_plan_literal(self, a: tuple):
        """A list-valued object spec: the first successful sub-op's value."""
        plan, spec = a
        success, value = self._seq(plan, return_first_success=True)
        if not success:
            raise ProcessorException(f"object spec {spec!r} produced no usable value during expansion")
        if isinstance(value, (IriNode, LitNode)):
            return value
        if not isinstance(value, str):
            # The reference returns raw Python values here (which later
            # crash rdflib); we coerce them to typed literals instead.
            if isinstance(value, bool):
                return LitNode("true" if value else "false", datatype=XSD.boolean)
            if isinstance(value, int):
                return LitNode(str(value), datatype=XSD.integer)
            if isinstance(value, float):
                return LitNode(str(value), datatype=XSD.float)
            return LitNode(str(value))
        return self._parse_literal(_segment(value))

    def _parse_literal(self, l: tuple):
        # Plain string: auto-coercion cascade (processor.py:2504-2524).
        l = self.expand(l)
        try:
            return LitNode(str(int(l)), datatype=XSD.integer)
        except ValueError:
            pass
        try:
            return LitNode(str(float(l)), datatype=XSD.float)
        except ValueError:
            pass
        sl = l.strip()
        if sl in ("true", "True", "TRUE"):
            return LitNode("true", datatype=XSD.boolean)
        if sl in ("false", "False", "FALSE"):
            return LitNode("false", datatype=XSD.boolean)
        if l.startswith("^"):
            l = l[1:]
        return LitNode(l)

    @staticmethod
    def _prep_literal(r: _StepReader) -> tuple:
        """A mapping object spec as ``(kind, value, lang, format)``."""
        names = ("text", "iri", "lang", "integer", "float", "bool", "date",
                 "datetime", "format", "apply")  # apply: is read, never used
        values = {name: r.get(name, str, optional=True) for name in names}
        lang = values["lang"]
        if lang and not _LANG_TAG.fullmatch(lang):
            raise WorkflowCompileError(
                f"{r.path}: lang: {lang!r} is not a language tag "
                "(lang: is not template-expanded)"
            )
        ndef = [a for a in ("text", "iri", "integer", "float", "bool") if values[a] is not None]
        if len(ndef) > 1:
            raise ProcessorException(
                f"object spec {r.step!r} defines more than one value attribute ({', '.join(ndef)})"
            )
        if len(ndef) < 1:
            raise ProcessorException(
                f"object spec {r.step!r} lacks a value attribute "
                "(expected one of text:, iri:, integer:, float:, bool:)"
            )
        # NOTE: truthiness (not is-not-None) picks the kind, as in the
        # reference: an empty-string integer: falls through to the next.
        kind = next((k for k in ("integer", "float", "bool", "date", "datetime", "iri") if values[k]),
                    "text" if values["text"] is not None else None)
        if kind is None:
            # The reference then crashes on expand(None)
            # (processor.py:2473/2486). NOTE: apply: next to text: is
            # silently IGNORED in the reference — the text: branch returns
            # first.
            raise ProcessorException(f"object spec {r.step!r} yields no usable value")
        return (kind, _segment(values[kind]), lang, values["format"])

    def _parse_structured_literal(self, a: tuple):
        kind, value, lang, fmt = a
        if kind == "iri":
            return IriNode(self._parse_node(value))
        v = self.expand(value)
        if kind == "text":
            return LitNode(v, lang=lang or None)
        if kind == "integer":
            try:
                return LitNode(str(int(v)), datatype=XSD.integer)
            except ValueError:
                raise ProcessorException(f"integer object: {v!r} does not parse as an int literal")
        if kind == "float":
            try:
                return LitNode(str(float(v if v.strip() else "nan")), datatype=XSD.float)
            except ValueError:
                raise ProcessorException(f"float object: {v!r} does not parse as a float literal")
        if kind == "bool":
            b = v.lower().strip() not in ("false", "0", "0.0", "", "none")
            return LitNode("true" if b else "false", datatype=XSD.boolean)
        if kind == "date":
            if v.strip().lower() == "today":
                # Reference quirk: computes date.today() but falls through
                # without returning (processor.py:2422-2423) → ends in an
                # expansion error. Reproduced as an explicit error.
                raise ProcessorException(
                    "date: today yields no value (reference semantics fall "
                    "through without returning)"
                )
            try:
                d = datetime.strptime(v, fmt).date() if fmt else date.fromisoformat(v)
            except ValueError:
                raise ProcessorException(
                    f"date object: {v!r} does not match format {fmt}" if fmt
                    else f"date object: {v!r} is not ISO-format"
                )
            return LitNode(d.isoformat(), datatype=XSD.date)
        if v.strip().lower() == "now":
            raise ProcessorException(
                "Failed: datetime: now falls through in reference semantics"
            )
        if not fmt:
            # Reference calls strptime(v, None) → TypeError (processor.py:2450).
            raise ProcessorException(
                "Object datetime: requires a format: attribute"
            )
        try:
            d = datetime.strptime(v, fmt)
        except ValueError:
            raise ProcessorException(
                f"datetime object: {v!r} does not match format {fmt}"
            )
        return LitNode(d.isoformat(), datatype=XSD.dateTime)

    # -- triple emission (processor.py:2226-2332) ------------------------------

    def _emit(self, subj: str, pred: str, obj: tuple, inverse: Optional[str]) -> None:
        s, p = self._parse_node(subj), self._parse_node(pred)
        parse, spec = obj
        o = parse(self, spec)
        if isinstance(o, IriNode):
            row = (s, p, "iri", o.value, None, None)
        else:
            row = (s, p, "literal", o.lexical, o.lang, o.datatype)
        self._add(row)
        if inverse:
            if row[2] != "iri":
                raise ProcessorException(f"inverse: needs an IRI object, got the literal {row[3]!r}")
            self._add((row[3], self._parse_node(inverse), "iri", s, None, None))

    def _add(self, row: tuple) -> None:
        for iri in (row[0], row[1], row[3]) if row[2] == "iri" else row[:2]:
            if _BAD_IRI_CHAR.search(iri):
                raise ProcessorException(f"IRI {iri!r} holds a character N-Triples cannot write")
        self.result.no_triples += 1  # raw count incl. duplicates
        if row not in self._seen_triples:  # graph set semantics
            self._seen_triples.add(row)
            self.result.triples.append(row)

    @staticmethod
    def _prep_triple(r: _StepReader) -> tuple:
        """The step's tree as a flat tuple of ``(subject, predicate, object
        spec, inverse)`` emissions in run order. A nested entry whose
        preparation failed stands in its place as its error; this step's
        own check errors raise here, so the step raises them when reached."""
        subject = r.get("subject", str, optional=True)
        predicate = r.get("predicate", str, optional=True)
        obj = r.get("object", optional=True)
        predicates = r.get("predicates", list, optional=True)
        objects = r.get("objects", list, optional=True)
        inverse = r.get("inverse", str, optional=True)
        implied_subject, implied_predicate, implied_inverse = r.scope or (None, None, None)
        # predicates: entries get only this step's own subject; objects:
        # entries the subject in scope and this step's predicate and inverse
        predicates = predicates and compile_plan(
            predicates, f"{r.path}.predicates", r.warnings, (subject, None, None))
        objects = objects and compile_plan(
            objects, f"{r.path}.objects", r.warnings, (subject or implied_subject, predicate, inverse))
        obj = obj and r.object(obj, f"{r.path}.object")
        op = r.step

        if subject:
            if implied_subject:
                raise ProcessorException(f"subject already set to {implied_subject}; nested redefinition is not allowed")
        elif not implied_subject:
            raise ProcessorException(f"triple emission without a subject in scope: {op!r}")

        if predicate or predicates:
            if implied_predicate:
                raise ProcessorException(f"predicate already set to {implied_predicate}; nested redefinition is not allowed")
        elif not implied_predicate:
            raise ProcessorException(f"triple emission without a predicate in scope: {op!r}")

        if obj or objects:
            if not (predicate or implied_predicate):
                raise ProcessorException(f"object given but no predicate is in scope: {op!r}")
            if obj and objects:
                raise ProcessorException(
                    f"both a single object and an object list given in {op!r}"
                )
            if predicates:
                raise ProcessorException(
                    f"Trying to define object for multiple predicates at the same level in {op!r}"
                )
        if inverse and not predicate:
            raise ProcessorException(f"inverse: must accompany a predicate definition: {op!r}")

        if predicates or objects:
            return tuple(
                e for handler, args in predicates or objects
                for e in (args if handler is DocInterpreter._op_triple else (args,))
            )
        if obj:
            inverse = inverse or implied_inverse
            return ((_segment(subject or implied_subject), _segment(predicate or implied_predicate),
                     obj, inverse and _segment(inverse)),)
        return ()

    def _op_triple(self, emissions: tuple) -> Tuple[bool, Any]:
        for e in emissions:
            if isinstance(e, Exception):
                raise copy.copy(e)
            self._emit(*e)
        return (True, None)

    # -- infrastructure ops -----------------------------------------------------

    @staticmethod
    def _prep_nothing(r: _StepReader) -> None:
        return None

    @staticmethod
    def _prep_keyword(r: _StepReader) -> Any:
        """The keyword's own value, a string."""
        return r.get(r.kw, str)

    @staticmethod
    def _prep_template(r: _StepReader) -> tuple:
        """The keyword's own value, a string template."""
        return r.get(r.kw, str, template=True)

    def _op_pass(self, a: None) -> Tuple[bool, Any]:
        return (True, None)

    def _op_desc(self, desc: str) -> Tuple[bool, Any]:
        self._log("DESC: ", desc)
        return (True, desc)

    def _op_echo(self, message: str) -> Tuple[bool, Any]:
        message = self.expand(message)
        self._log("ECHO: ", message)
        return (True, message)

    @staticmethod
    def _prep_dump(r: _StepReader) -> tuple:
        what, fname = r.get("dump", str), r.get("file", str, optional=True, template=True)
        return (_segment(what), what.strip() in ("_", "*", "ct", "current-text"), fname)

    def _op_dump(self, a: tuple) -> Tuple[bool, Any]:
        what, current_text, fname = a
        t = self._text if current_text else self.expand(what)
        if fname is not None:
            fname = self.expand(fname)
            self.result.texts[fname] = t
        else:
            self._log("DUMP", t)
        return (True, fname)

    @staticmethod
    def _prep_any_of(r: _StepReader) -> list:
        return r.plan("any-of")

    def _op_any_of(self, body: list) -> Tuple[bool, Any]:
        return self._seq(body, return_first_success=True)

    @staticmethod
    def _prep_save_as(r: _StepReader) -> tuple:
        target = r.get("save-as")
        if isinstance(target, dict):
            t = _StepReader(target, r.path, r.kw, r.warnings, r.errors)
            f_name, b_name = t.get("file", str, optional=True), t.get("bucket", str, optional=True)
            if f_name is None and b_name is None:
                raise ProcessorException(
                    "save-as needs a 'file' or 'bucket' attribute"
                )
            target = f_name or b_name
        return _segment(target)

    def _op_save_as(self, f_name: tuple) -> Tuple[bool, Any]:
        f_name = self.expand(f_name)
        self.result.saved_as.append(f_name)
        return (True, f_name)

    # -- variables ---------------------------------------------------------------

    @staticmethod
    def _prep_set(r: _StepReader) -> tuple:
        var = r.get("set", str)
        value = r.get("to", optional=True)
        expr = r.get("eval", str, optional=True)
        imps = r.get("import", str, optional=True)
        if value is None and expr is None:
            raise ProcessorException(
                f"set {var}: needs a to: or eval: attribute"
            )
        if value is not None and expr is not None:
            raise ProcessorException(
                f"set {var}: to: and eval: are mutually exclusive"
            )
        # to: is a template only when it is a string
        return (_segment(var), value, _segment(value) if isinstance(value, str) else None,
                expr and _segment(expr), None if imps is None else re.split(r"\s+", imps))

    def _op_set(self, a: tuple) -> Tuple[bool, Any]:
        var, value, template, expr, imports = a
        var = self.expand(var)  # dynamic variable names
        if expr:
            for mod in imports or ():
                if mod not in self._imports:
                    self._imports[mod] = importlib.import_module(mod)
            expr = self.expand(expr)
            # DEVIATION: the reference imports the module but does not put
            # it in eval's globals (processor.py:849-856), so `import: math`
            # + `eval: math.floor(x)` raises NameError there; exposing the
            # imported names makes the documented feature actually usable.
            env = {"vars": self._vars, "matches": self._matches, **self._imports}
            try:
                value = eval(expr, env)
            except Exception as ex:
                raise ProcessorException(
                    f"set {var}: eval: expression raised {ex}"
                ) from ex
        elif template is not None:
            value = self.expand(template)
        else:  # append: grows a list in place, so each document gets its own
            value = copy.deepcopy(value)
        self._vars[var] = value
        return (True, value)

    def _op_clear(self, var: tuple) -> Tuple[bool, Any]:
        self._vars[self.expand(var)] = None
        return (True, None)

    @staticmethod
    def _prep_append(r: _StepReader) -> tuple:
        return (r.get("append", str, template=True), r.get("element", template=True))

    def _op_append(self, a: tuple) -> Tuple[bool, Any]:
        var, element = a
        var = self.expand(var)
        lst = self._vars.get(var)
        if lst is None or lst == "":
            lst = []
        elif not isinstance(lst, list):
            lst = [lst]
        lst.append(self.expand(element))
        self._vars[var] = lst
        return (True, element[0])

    @staticmethod
    def _prep_for_each(r: _StepReader) -> tuple:
        return (r.get("for-each"), r.get("as", str, optional=True), r.plan("do"))

    def _op_for_each(self, a: tuple) -> Tuple[bool, Any]:
        list_var, ident, body = a
        elems = self._vars.get(list_var)
        if elems is None or elems == "":
            return (False, None)
        if not isinstance(elems, list):
            raise ProcessorException(f"for-each: variable {list_var} does not hold a list")
        count = 1
        for elem in elems:
            if ident is not None:
                self._vars[ident] = elem
                self._vars[f"{ident}_count"] = count
            self._seq(body)
            count += 1
        return (count > 1, None)

    def _op_exec(self, code: str) -> Tuple[bool, Any]:
        env = {"vars": self._vars, "matches": self._matches}
        try:
            exec(code, env)  # trusted-workflow escape hatch (processor.py:970)
        except Exception as ex:
            raise ProcessorException(
                f"exec: embedded Python raised {ex}"
            ) from ex
        return (True, None)

    # -- conditionals -------------------------------------------------------------

    @staticmethod
    def _prep_if(r: _StepReader) -> tuple:
        return (r.get("if", template=True), r.plan("do"))

    def _op_if(self, a: tuple) -> Tuple[bool, Any]:
        template, body = a
        local_env = dict(self._vars)
        local_env["matches"] = self._matches
        condition = template[0]
        try:
            condition = self.expand(template)
            result = eval(condition, {}, local_env)
        except Exception as ex:
            raise ProcessorException(f"if: condition does not evaluate: {condition}") from ex
        if result:
            return self._seq(body)
        return (False, None)

    @staticmethod
    def _prep_cond_def(r: _StepReader) -> tuple:
        return (r.get(r.kw, template=True), r.plan("do"), r.kw == "ifndef")

    def _op_cond_def(self, a: tuple) -> Tuple[bool, Any]:
        condition, body, negate = a
        condition = self.expand(condition)
        defined = False
        m = _IFDEF_MATCH_REF.match(condition)
        if m:
            saved = self._matches.get(m.group(1))
            if saved is not None:
                g = saved.group(int(m.group(2)))
                defined = g is not None and g.strip() != ""
        else:
            v = self._vars.get(condition)
            defined = v is not None and str(v).strip() != ""
        if defined != negate:
            return self._seq(body)
        return (False, None)

    # -- procedures ----------------------------------------------------------------

    @staticmethod
    def _prep_procedure(r: _StepReader) -> tuple:
        return (r.get("procedure", str), r.plan("do"))

    def _op_procedure(self, a: tuple) -> Tuple[bool, Any]:
        name, body = a
        self._procedures[name] = body
        return (True, None)

    @staticmethod
    def _prep_call(r: _StepReader) -> tuple:
        name, args = r.get("call"), r.get("with", dict, optional=True) or {}
        return (name, tuple((k, v, _segment(v)) for k, v in args.items()),
                r.get("return", dict, optional=True))

    def _op_call(self, a: tuple) -> Tuple[bool, Any]:
        name, args, rtnv = a
        body = self._procedures.get(name)
        if body is None:
            raise ProcessorException(f"call: no procedure named {name} is defined")
        outer_vars, outer_matches = self._vars, self._matches
        try:
            self._vars = dict(self._vars)
            self._matches = dict(self._matches)
            for arg_name, arg_value, template in args:
                if arg_value.startswith("~"):
                    # pass-a-match convention (processor.py:1164-1169)
                    match_name = arg_name[1:]
                    if self._matches.get(match_name) is None:
                        raise ProcessorException(f"replace: no stored match named {match_name}")
                else:
                    self._vars[arg_name] = self.expand(template)
            s, v = self._seq(body)
            if rtnv is not None:
                for proc_var, caller_var in rtnv.items():
                    outer_vars[caller_var] = self._vars[proc_var]
            return (s, v)
        finally:
            self._vars = outer_vars
            self._matches = outer_matches

    # -- matching ------------------------------------------------------------------

    def _search_any(self, rx, start: int = 0) -> Optional[re.Match]:
        """search with a single pattern or first-matching of a pattern list."""
        if not isinstance(rx, list):
            return rx.search(self._text, start)
        for p in rx:
            if not isinstance(p, re.Pattern):
                raise ProcessorException(f"match: list element {p!r} must be a pattern string")
            m = p.search(self._text, start)
            if m is not None:
                return m
        return None

    @staticmethod
    def _prep_replace(r: _StepReader) -> tuple:
        pattern, replacement = r.get("replace", str), r.get("with", str)
        return (r.rx(pattern, re.DOTALL), replacement)

    def _op_replace(self, a: tuple) -> Tuple[bool, Any]:
        rx, replacement = a
        self._text = rx.sub(replacement, self._text)
        return (True, None)

    @staticmethod
    def _prep_match(r: _StepReader) -> tuple:
        pattern, ident, flags = r.get("match"), r.get("as", str, optional=True), r.flags()
        body = r.plan("do")
        return (r.search(pattern, flags), ident, body)

    def _on_text(self, text: str, run: Callable, *args) -> Any:
        """``run(*args)`` with ``text`` as the current text: the match
        family's one text scope."""
        saved = self._text
        try:
            self._text = text
            return run(*args)
        finally:
            self._text = saved

    def _hit(self, m: re.Match, ident: Optional[str], count: Optional[int] = None) -> None:
        """The match family's one match record: the stats, ``as:`` and,
        given a count, ``<as>_count``."""
        self._stat_match(len(m.group(0)))
        if ident is not None:
            self._matches[ident] = m
            if count is not None:
                self._vars[f"{ident}_count"] = count

    def _seq_in_group(self, group: Optional[int], m: re.Match, body: list) -> None:
        """Run ``body``, on the text of ``m``'s group when one is given."""
        if group is None:
            self._seq(body)
        else:
            self._on_text(m.group(group), self._seq, body)

    def _op_match(self, a: tuple) -> Tuple[bool, Any]:
        rx, ident, body = a
        m = self._search_any(rx)
        if m is not None:
            self._hit(m, ident)
            return self._seq(body)
        return (False, None)

    @staticmethod
    def _prep_match_every(r: _StepReader) -> tuple:
        pattern = r.get("match-every")
        return (r.rx(pattern, r.flags()), None, r.get("as", str, optional=True), r.plan("do"),
                r.plan("first", optional=True))

    @staticmethod
    def _prep_within_every(r: _StepReader) -> tuple:
        pattern = r.get("within-every")
        rx, group = r.rx(pattern, r.flags()), r.get("group", int, optional=True) or 1
        body = r.plan("do")
        return (rx, group, r.get("as", str, optional=True), body, r.plan("first", optional=True))

    def _op_every(self, a: tuple) -> Tuple[bool, Any]:
        """``match-every`` (``group`` None: each body runs on the current
        text) and ``within-every`` (each body runs on its match's group).
        Each keeps its own ``prepare``: the order it reads attributes in
        decides which error a broken step reports."""
        rx, group, ident, body, do_first = a
        count = 0
        for count, m in enumerate(rx.finditer(self._text), 1):
            self._hit(m, ident, count)
            self._seq_in_group(group, m, do_first if count == 1 and do_first is not None else body)
        return (count > 0, None)

    @staticmethod
    def _prep_within(r: _StepReader) -> tuple:
        pattern = r.get("within")
        group_index = r.get("group", int, optional=True) or 1
        flags = r.flags()
        body, ident = r.plan("do"), r.get("as", str, optional=True)
        return (r.search(pattern, flags), group_index, body, ident)

    def _op_within(self, a: tuple) -> Tuple[bool, Any]:
        rx, group_index, body, ident = a
        m = self._search_any(rx)
        if m is not None:
            t = m.group(group_index)
            if t:
                self._hit(m, ident)
                self._on_text(t, self._seq, body)
                return (True, t)
        return (False, None)

    @staticmethod
    def _prep_with(r: _StepReader) -> tuple:
        return (r.get("with", template=True), r.plan("do"))

    def _op_with(self, a: tuple) -> Tuple[bool, Any]:
        text, body = a
        return self._on_text(self.expand(text), self._seq, body)

    # -- sequence-of (processor.py:1456-1618) -----------------------------------

    @staticmethod
    def _prep_sequence_of(r: _StepReader) -> tuple:
        seq_id = r.get("sequence-of") or "<unnamed>"
        alternatives = r.get("alternatives", list, optional=True)
        steps = r.get("steps", list, optional=True)
        if alternatives is None and steps is None:
            raise ProcessorException(
                f"sequence-of {seq_id}: needs an 'alternatives' or 'steps' argument"
            )
        if alternatives is not None and steps is not None:
            raise ProcessorException(
                f"sequence-of {seq_id}: 'alternatives' and 'steps' are mutually exclusive"
            )
        entries = "alternatives" if alternatives else "steps"
        specs = []
        for i, alt in enumerate(alternatives or steps):
            e = _StepReader(alt, f"{r.path}.{entries}[{i}]", r.kw, r.warnings, r.errors)
            pattern, flags = e.get("match"), e.flags()
            ident = e.get("as", str, optional=True)
            if isinstance(pattern, list):
                rx = [re.compile(p, flags) for p in pattern]
            else:
                rx = e.rx(pattern, flags)
            specs.append((rx, ident, e.get("within-group", int, optional=True), e.plan("do")))
        return (seq_id, alternatives is not None, specs)

    def _op_sequence_of(self, a: tuple) -> Tuple[bool, Any]:
        seq_id, lexer, specs = a
        fire_counts: Dict[Optional[str], int] = {}
        # per alternative: (the text searched, its next match there)
        ahead: List[tuple] = [(None, None)] * len(specs)
        count = start = 0
        while True:
            if lexer:
                # Lexer: take the earliest-starting match among all
                # alternatives, advance the cursor past it. Each one's next
                # match holds until the cursor passes it or the text changes.
                m = spec = None
                for i, s in enumerate(specs):
                    text, sm = ahead[i]
                    if text is not self._text or sm is not None and sm.start(0) < start:
                        sm = self._search_any(s[0], start)
                        ahead[i] = (self._text, sm)
                    if sm is not None and (m is None or sm.start(0) < m.start(0)):
                        m, spec = sm, s
                if m is not None and m.end(0) == start:  # the reference loops forever
                    raise ProcessorException(f"sequence-of {seq_id}: an alternative matched "
                                             f"the empty string at {start}; the cursor cannot advance")
            elif count < len(specs):
                # Strict ordered steps: stop at the first non-matching step.
                spec = specs[count]
                m = self._search_any(spec[0], start)
            else:
                break
            if m is None:
                break
            start = m.end(0)
            count += 1
            _, ident, group, body = spec
            fire_counts[ident] = fire_counts.get(ident, 0) + 1
            # steps mode does not track per-id counters in the reference
            self._hit(m, ident, fire_counts[ident] if lexer else None)
            self._seq_in_group(group, m, body)
        return (count >= 1, None)

    # -- 2-D table matcher (DEPRECATED in reference; processor.py:1622-1707) -----

    @staticmethod
    def _prep_match_1(r: _StepReader) -> tuple:
        pattern_1, pattern_2 = r.get("match-1"), r.get("match-2")
        group_1 = r.get("group-1", int, optional=True) or 1
        ids = [r.get(n, str, optional=True) for n in ("as-1", "as-2", "header-as", "leading-as")]
        flags = r.flags()
        body = r.plan("do")
        do_first, do_leading = r.plan("first", optional=True), r.plan("leading", optional=True)
        return (r.rx(pattern_1, flags), r.rx(pattern_2, flags), group_1, *ids, body,
                do_first, do_leading)

    def _op_match_1(self, a: tuple) -> Tuple[bool, Any]:
        # match-1 adds nothing to the stats, so it records its matches itself
        (rx1, rx2, group_1, id_1, id_2, id_header, id_leading, body, do_first,
         do_leading) = a
        header_matches: List[re.Match] = []

        def row(count_1: int) -> None:
            for count_2, m2 in enumerate(rx2.finditer(self._text), 1):
                if id_2 is not None:
                    self._matches[id_2] = m2
                    self._vars[f"{id_2}_count"] = count_2
                if count_1 == 1:
                    header_matches.append(m2)
                if id_header is not None:
                    self._matches[id_header] = header_matches[count_2 - 1]
                    self._vars[f"{id_header}_count"] = count_2
                if count_2 == 1 and id_leading is not None:
                    self._matches[id_leading] = m2
                    self._vars[f"{id_leading}_count"] = count_1
                if count_1 == 1 and do_first is not None:
                    self._seq(do_first)
                elif count_2 == 1 and do_leading is not None:
                    self._seq(do_leading)
                else:
                    self._seq(body)

        count_1 = 0
        for count_1, m1 in enumerate(rx1.finditer(self._text), 1):
            if id_1 is not None:
                self._matches[id_1] = m1
                self._vars[f"{id_1}_count"] = count_1
            self._on_text(m1.group(group_1), row, count_1)
        return (count_1 > 0, None)

    # -- N-dimensional matcher (processor.py:1711-1933) ---------------------------

    @staticmethod
    def _prep_match_dimensions(r: _StepReader) -> tuple:
        patterns = r.get("match-dimensions", list)
        cell_id = r.get("as", str, optional=True)
        dimensions = r.get("dimensions", list, optional=True)
        flags = r.flags()
        body, pre_steps = r.plan("do"), r.plan("pre", optional=True)
        # do-<i>-<j> bodies by "<i>-<j>"; an empty body never wins a cell
        cells = {
            name[3:]: r.body(val, f"{r.path}.{name}")
            for name, val in r.step.items()
            if re.match(r"do-(\*|[0-9A-Za-z_]+)-(\*|[0-9A-Za-z_]+)", name) and val
        }
        rxs = [re.compile(p, flags) for p in patterns or ()]
        if dimensions is not None and len(dimensions) != len(rxs):
            raise ProcessorException(
                "match-dimensions: the dimension-name list length must equal the pattern count"
            )
        return (rxs, cell_id, dimensions, body, pre_steps, cells)

    def _op_match_dimensions(self, a: tuple) -> Tuple[bool, Any]:
        rxs, cell_id, dimensions, body, pre_steps, cells = a
        counts: List[Optional[int]] = [None] * len(rxs)
        last = len(rxs) - 1

        def enter(dim: int, count: int) -> None:
            counts[dim] = count
            if dimensions:
                self._vars[dimensions[dim]] = count

        def scan(dim: int, text: str, leaf: Callable) -> list:
            """The table under ``text`` from dimension ``dim`` on, as
            nested lists of what ``leaf`` returns for each cell match."""
            table = []
            for count, m in enumerate(rxs[dim].finditer(text), 1):
                enter(dim, count)
                table.append(scan(dim + 1, m.group(1), leaf) if dim < last else leaf(m))
            return table

        def save_key(m: re.Match) -> re.Match:
            if cell_id:
                # pre-scan saves only the indexed key (processor.py:1789-1793)
                self._matches[f"{cell_id}-" + "-".join(str(i) for i in counts)] = m
            return m

        def run_cell(m: re.Match) -> None:
            """Final-dimension cell: stats, match save, most-specific body."""
            self._stat_match(len(m.group(0)))
            if cell_id:
                save_key(m)
                self._matches[cell_id] = m
            self._on_text(m.group(1), self._seq, self._cell_ops(counts, cells) or body)

        def walk(dim: int, table: list) -> None:
            """Run the cells of a pre-scanned table; a ``break:`` in this
            table skips the rest of its row."""
            for count, m in enumerate(table, 1):
                enter(dim, count)
                if dim < last:
                    walk(dim + 1, m)
                    table_scope[1] = False
                elif table_scope[1]:
                    break
                else:
                    run_cell(m)

        prev_matches = self.result.no_matches
        if pre_steps is None:
            scan(0, self._text, run_cell)
        else:
            table_scope = [[None] * len(dimensions), False]
            self._tables.append(table_scope)
            try:
                table = scan(0, self._text, save_key)
                self._seq(pre_steps)
                walk(0, table)
            finally:
                self._tables.pop()
        return (self.result.no_matches > prev_matches, None)

    def _cell_ops(self, counts, cells):
        """Most-specific do-<i>-<j> body: per dimension its tag, its index,
        then '*', depth-first (processor.py:1903-1933)."""
        tags = self._tables[-1][0] if self._tables else None
        choices = []
        for dim, count in enumerate(counts):
            tag = None
            if tags is not None and tags[dim] is not None:
                tag = tags[dim].get(count)
            choices.append((str(count), "*") if tag is None else (tag, str(count), "*"))
        if cells:
            for key in product(*choices):
                ops = cells.get("-".join(key))
                if ops:
                    return ops
        return None

    @staticmethod
    def _prep_tag_dimension(r: _StepReader) -> tuple:
        # the numbers expand as strings
        dim_no, at = r.get("tag-dimension"), r.get("at")
        return (_segment(str(dim_no)), _segment(str(at)), r.get("as", str))

    def _op_tag_dimension(self, a: tuple) -> Tuple[bool, Any]:
        dim_no, at_index, tag_name = a
        dim_no = int(self.expand(dim_no))
        at_index = int(self.expand(at_index))
        if not self._tables:
            raise ProcessorException(
                "tag-dimension is only valid inside a match-dimensions pre: scope"
            )
        dim_tags = self._tables[-1][0]
        if dim_no < 1 or dim_no > len(dim_tags):
            raise ProcessorException(
                f"tag-dimension {dim_no} out of range 1..{len(dim_tags)}"
            )
        if at_index < 1:
            raise ProcessorException(
                f"tag-dimension at: index {at_index} must be >= 1"
            )
        if dim_tags[dim_no - 1] is None:
            dim_tags[dim_no - 1] = {}
        dim_tags[dim_no - 1][at_index] = tag_name
        return (True, None)

    def _op_break(self, a: None) -> Tuple[bool, Any]:
        if self._tables:  # outside a pre: table, break: stops nothing
            self._tables[-1][1] = True
        return (True, None)

    # -- mappings (the entity-linking dictionary; processor.py:1992-2104) --------

    @staticmethod
    def _prep_mapping(r: _StepReader) -> tuple:
        name, pairs, flags = r.get("mapping", str), r.get("pairs", list), r.flags(0)
        ignore_case = bool(flags & re.IGNORECASE)
        exact: dict = {}
        rx_pairs: list = []
        for p in pairs or ():
            if not isinstance(p, dict):
                raise ProcessorException(f"mapping: element {p!r} must be a mapping of match/to")
            f_text, f_re, f_to = p.get("from"), p.get("re"), p.get("to")
            if f_to is None:
                raise ProcessorException(f"Mapping element {p!r} has no 'to' attribute")
            if f_text:
                if f_re:
                    raise ProcessorException(
                        f"Mapping element {p!r} has both a 'from' and a 're' attribute"
                    )
                exact[f_text] = _segment(str(f_to))
                if ignore_case:
                    exact[f_text.lower()] = exact[f_text]
            elif f_re:
                # a non-string re: fails in re.match when a lookup reaches it
                rx_pairs.append((re.compile(f_re) if isinstance(f_re, str) else f_re, _segment(str(f_to))))
            else:
                raise ProcessorException(
                    f"Mapping element {p!r} has neither a 'from' nor a 're' attribute"
                )
        return (name, (exact, rx_pairs, flags))

    def _op_mapping(self, a: tuple) -> Tuple[bool, Any]:
        name, mapping = a
        self._mappings[name] = mapping
        return (True, name)

    @staticmethod
    def _prep_map(r: _StepReader) -> tuple:
        return (r.get("map", str, template=True), r.get("apply", str), r.get("to", optional=True))

    def _op_map(self, a: tuple) -> Tuple[bool, Any]:
        """Exact-dict hit first, then ordered regex pairs, else identity;
        every hit expands its pair's ``str(to:)``.

        Regex pairs are matched with ``re.match`` and NO flags — the
        mapping's flags only affect the exact dict's lowercased copy. The
        reference makes the regex match the latest match for the
        replacement (processor.py:2098-2101), but ``@{N}`` never reads the
        latest match: it expands the variable ``N``, ``"None"`` when unset
        (processor.py:2644).
        """
        value, name, var = a
        value = self.expand(value)
        mapping = self._mappings.get(name)
        if mapping is None:
            raise ProcessorException(f"map: no mapping named {name} is defined")
        exact, rx_pairs, flags = mapping
        repl = exact.get(value)
        if repl is None and flags & re.IGNORECASE:
            repl = exact.get(value.lower())
        if repl is None:
            repl = next((to for pat, to in rx_pairs if re.match(pat, value)), None)
        mapped = value if repl is None else self.expand(repl)
        if var is not None:
            self._vars[var] = mapped
        return (True, mapped)

    # -- graph lookup (select:) ----------------------------------------------------

    @staticmethod
    def _prep_select(r: _StepReader) -> tuple:
        selection, graph_id = r.get("select", str), r.get("from", str)
        where = r.get("where", str, template=True)
        var_ids = r.get("as", str, optional=True) or selection
        else_steps, row_steps = r.plan("else", optional=True), r.plan("do", optional=True)
        return (graph_id, where, re.split(r"\s+", selection), re.split(r"\s+", var_ids),
                else_steps, row_steps)

    def _op_select(self, a: tuple) -> Tuple[bool, Any]:
        graph_id, where, select_vars, stored_vars, else_steps, row_steps = a
        where_clause = self.expand(where)
        if self._query_fn is None:
            raise ProcessorException(
                f"No query handler configured for select: from {graph_id}"
            )
        rows = self._query_fn(select_vars, graph_id, where_clause)
        if not rows:
            if else_steps:
                return self._seq(else_steps)
            return (False, None)
        if row_steps is None:
            for var, alias in zip(select_vars, stored_vars):
                self._vars[alias] = rows[0].get(var)
            return (True, rows[0].get(select_vars[0]))
        # DEVIATION: the reference's do:-mode crashes on the first row
        # (processor.py:2184); implemented working per-row binding instead.
        for row in rows:
            for var, alias in zip(select_vars, stored_vars):
                self._vars[alias] = row.get(var)
            self._seq(row_steps)
        return (True, None)

    # -- prefixes --------------------------------------------------------------------

    @staticmethod
    def _prep_prefix(r: _StepReader) -> tuple:
        return (r.get("prefix", str), r.get("iri", str))

    def _op_prefix(self, a: tuple) -> Tuple[bool, Any]:
        prefix, iri = a
        self._prefixes[prefix] = iri
        return (True, prefix)


# The op table: keyword → (prepare, handler), in dispatch priority. A step
# runs the FIRST keyword of this table that it contains, as the reference's
# keyword_2_method does (processor.py:711-718, 2764-2799).
_I = DocInterpreter
OPS: Dict[str, Tuple[Callable, Callable]] = {
    "pass": (_I._prep_nothing, _I._op_pass),
    "any-of": (_I._prep_any_of, _I._op_any_of),
    "set": (_I._prep_set, _I._op_set),
    "clear": (_I._prep_template, _I._op_clear),
    "append": (_I._prep_append, _I._op_append),
    "for-each": (_I._prep_for_each, _I._op_for_each),
    "exec": (_I._prep_keyword, _I._op_exec),
    "if": (_I._prep_if, _I._op_if),
    "ifdef": (_I._prep_cond_def, _I._op_cond_def),
    "ifndef": (_I._prep_cond_def, _I._op_cond_def),
    "save-as": (_I._prep_save_as, _I._op_save_as),
    "procedure": (_I._prep_procedure, _I._op_procedure),
    "call": (_I._prep_call, _I._op_call),
    "replace": (_I._prep_replace, _I._op_replace),
    "match": (_I._prep_match, _I._op_match),
    "match-every": (_I._prep_match_every, _I._op_every),
    "within": (_I._prep_within, _I._op_within),
    "within-every": (_I._prep_within_every, _I._op_every),
    "with": (_I._prep_with, _I._op_with),
    "sequence-of": (_I._prep_sequence_of, _I._op_sequence_of),
    "match-1": (_I._prep_match_1, _I._op_match_1),
    "match-dimensions": (_I._prep_match_dimensions, _I._op_match_dimensions),
    "tag-dimension": (_I._prep_tag_dimension, _I._op_tag_dimension),
    "break": (_I._prep_nothing, _I._op_break),
    "prefix": (_I._prep_prefix, _I._op_prefix),
    "mapping": (_I._prep_mapping, _I._op_mapping),
    "map": (_I._prep_map, _I._op_map),
    "select": (_I._prep_select, _I._op_select),
    "subject": (_I._prep_triple, _I._op_triple),
    "predicate": (_I._prep_triple, _I._op_triple),
    "object": (_I._prep_triple, _I._op_triple),
    "echo": (_I._prep_template, _I._op_echo),
    "desc": (_I._prep_keyword, _I._op_desc),
    "dump": (_I._prep_dump, _I._op_dump),
}


def run_document(
    text: str,
    program: WorkflowProgram,
    doc_vars: Optional[Dict[str, Any]] = None,
    query_fn: Optional[QueryFn] = None,
    collect_log: bool = False,
) -> DocResult:
    """Run one workflow on one document, capturing errors per document.

    Mirrors the runner loop body (runner.py:341-396): seed ``doc``/
    ``docname`` style variables, execute, and on a ProcessorException keep
    an error record instead of failing the batch.
    """
    interp = DocInterpreter(
        text=text, query_fn=query_fn, collect_log=collect_log, initial_vars=doc_vars
    )
    try:
        interp.run(program)
    except ProcessorException as ex:
        interp.result.error = str(ex)
    except Exception as ex:  # non-Processor failures also stay per-doc
        interp.result.error = f"{type(ex).__name__}: {ex}"
    return interp.result
