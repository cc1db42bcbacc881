"""Unit tests: interpreter semantics vs the reference's documented behavior.

Table-driven per SURVEY.md §5.1 — template expansion quirks, literal
coercion cascade, sequence-of ordering, match-dimensions body selection,
procedure scoping, stats formulas. Reference line numbers cited per case.
"""

import copy
import glob
import inspect
import math
import os
import pickle
import re
import time
from typing import Tuple

import pytest
import yaml

from cmc_knowledge_graph_text2ttl_spark.core import ProcessorException, XSD
from cmc_knowledge_graph_text2ttl_spark.core.errors import WorkflowCompileError
from cmc_knowledge_graph_text2ttl_spark.workflow import compile_workflow_file, interpreter, run_document
from cmc_knowledge_graph_text2ttl_spark.workflow.interpreter import OPS, DocInterpreter, _raise, _segment, compile_plan

from conftest import REPO, wf


def run(src, text="", doc_vars=None, **kw):
    res = run_document(text, wf(src), doc_vars=doc_vars, **kw)
    return res


def execute_plan(interp, plan):
    """Run raw YAML steps on ``interp``, compiling them first."""
    for handler, args in compile_plan(plan, "plan", []):
        handler(interp, args)


def triples(src, text="", **kw):
    res = run(src, text, **kw)
    assert res.error is None, res.error
    return res.triples


S = "- subject: http://e/s\n  predicate: http://e/p\n  object: {obj}\n"


# ---------------------------------------------------------------------------
# Template expansion (processor.py:2599-2669)


class TestTemplates:
    def _expand(self, template, vars=None, text="", setup=""):
        interp = DocInterpreter(text=text, initial_vars=vars or {})
        if setup:
            import yaml

            execute_plan(interp, yaml.safe_load(setup))
        return interp.expand(_segment(template))

    def test_variable_expansion(self):
        assert self._expand("v=@{x}", {"x": "1"}) == "v=1"

    def test_undefined_variable_is_literal_None(self):
        # quirk at processor.py:2644: str() before the None check
        assert self._expand("v=@{nope}") == "v=None"

    def test_optional_undefined_variable_still_None(self):
        # @{?} only affects the named-match path (processor.py:2627-2649)
        assert self._expand("v=@{?nope}") == "v=None"

    def test_optional_undefined_match_is_empty(self):
        assert self._expand("v=@{?m.1}") == "v="

    def test_undefined_match_raises(self):
        with pytest.raises(ProcessorException):
            self._expand("@{m.1}")

    def test_match_group_by_number_and_name(self):
        setup = "- match: '(?P<word>ab)(c)'\n  as: m\n  do: [{pass: x}]\n"
        interp = DocInterpreter(text="abc")
        import yaml

        execute_plan(interp, yaml.safe_load(setup))
        assert interp.expand(_segment("@{m.1}/@{m.2}/@{m.word}")) == "ab/c/ab"

    def test_unknown_group_raises(self):
        import yaml

        interp = DocInterpreter(text="abc")
        execute_plan(interp, yaml.safe_load("- match: 'a'\n  as: m\n  do: [{pass: x}]"))
        with pytest.raises(ProcessorException):
            interp.expand(_segment("@{m.7}"))

    def test_nested_innermost_first(self):
        # @{material-@{row}.1} style nesting (docstring processor.py:2609)
        import yaml

        interp = DocInterpreter(text="x=43", initial_vars={"row": "3"})
        execute_plan(
            interp,
            yaml.safe_load("- match: 'x=(\\d+)'\n  as: material-3\n  do: [{pass: x}]")
        )
        assert interp.expand(_segment("@{material-@{row}.1}")) == "43"

    def test_formatters(self):
        v = {"a": "  Hello, World!  ", "b": "x\n\ty&amp;z "}
        assert self._expand("@{a:trim}", v) == "Hello, World!"
        assert self._expand("@{a:iri}", v) == "Hello__World_"
        assert self._expand("@{b:norm}", v) == "x y&z"

    def test_none_group_becomes_empty(self):
        # `ext or ""` at processor.py:2666
        import yaml

        interp = DocInterpreter(text="ab")
        execute_plan(
            interp,
            yaml.safe_load("- match: 'a(x)?(b)'\n  as: m\n  do: [{pass: x}]")
        )
        assert interp.expand(_segment("[@{m.1}]")) == "[]"


# ---------------------------------------------------------------------------
# Literal coercion cascade (processor.py:2370-2524)


class TestLiterals:
    def obj(self, obj_yaml, text=""):
        src = f"- subject: http://e/s\n  predicate: http://e/p\n  object: {obj_yaml}\n"
        t = triples(src, text)
        assert len(t) == 1
        return t[0]

    def test_auto_integer(self):
        row = self.obj("' 42 '")
        assert (row[3], row[5]) == ("42", XSD.integer)

    def test_auto_integer_plus_normalized(self):
        assert self.obj("'+5'")[3] == "5"

    def test_auto_float(self):
        row = self.obj("'2.50'")
        assert (row[3], row[5]) == ("2.5", XSD.float)

    def test_auto_bool_true_variants(self):
        for v in ("true", "True", "TRUE", " TRUE "):
            row = self.obj(f"'{v}'")
            assert (row[3], row[5]) == ("true", XSD.boolean), v

    def test_caret_escape_forces_string(self):
        row = self.obj("'^TRUE'")
        assert (row[3], row[5]) == ("TRUE", None)
        row = self.obj("'^123'")
        # NOTE: int('^123') fails first, so ^ only matters for bool-likes
        assert (row[3], row[5]) == ("123", None)

    def test_plain_string(self):
        row = self.obj("hello world")
        assert (row[2], row[3], row[5]) == ("literal", "hello world", None)

    def test_structured_integer(self):
        row = self.obj("{integer: '7'}")
        assert (row[3], row[5]) == ("7", XSD.integer)

    def test_structured_integer_invalid_raises(self):
        res = run(S.format(obj="{integer: 'abc'}"))
        assert "does not parse as an int literal" in res.error

    def test_structured_float_empty_is_nan(self):
        # processor.py:2404-2405
        row = self.obj("{float: ' '}")
        assert row[3] == "nan" and row[5] == XSD.float

    def test_structured_bool_falsy_table(self):
        # processor.py:2416
        for v, expect in [
            ("false", "false"), ("0", "false"), ("0.0", "false"),
            ("none", "false"), ("NONE", "false"), (" ", "false"),
            ("yes", "true"), ("1", "true"), ("anything", "true"),
        ]:
            row = self.obj(f"{{bool: '{v}'}}")
            assert row[3] == expect, v

    # QUIRK (processor.py:2388-2394): the value-attribute arity check only
    # counts text/iri/integer/float/bool — date:/datetime: alone fail it, so
    # a date object needs a dummy text: sibling (date: wins, text: ignored).
    def test_structured_date_alone_fails_arity_check(self):
        res = run(S.format(obj="{date: '2024-03-02'}"))
        assert "lacks a value attribute" in res.error

    def test_structured_date_with_format(self):
        row = self.obj("{text: '', date: '02.03.2024', format: '%d.%m.%Y'}")
        assert (row[3], row[5]) == ("2024-03-02", XSD.date)

    def test_structured_date_iso(self):
        row = self.obj("{text: '', date: '2024-03-02'}")
        assert (row[3], row[5]) == ("2024-03-02", XSD.date)

    def test_date_today_falls_through_to_error(self):
        # reference quirk processor.py:2422-2423
        assert run(S.format(obj="{text: 'x', date: today}")).error is not None

    def test_datetime_with_format(self):
        row = self.obj("{text: '', datetime: '2024-03-02 04:05', format: '%Y-%m-%d %H:%M'}")
        assert (row[3], row[5]) == ("2024-03-02T04:05:00", XSD.dateTime)

    def test_datetime_without_format_errors(self):
        # strptime(v, None) TypeError in reference (processor.py:2450)
        assert run(S.format(obj="{text: '', datetime: '2024-03-02'}")).error is not None

    def test_lang_literal(self):
        row = self.obj("{text: 'hi', lang: en}")
        assert (row[3], row[4], row[5]) == ("hi", "en", None)

    def test_empty_integer_falls_through(self):
        # truthiness check: integer: '' skips the int branch entirely
        res = run(S.format(obj="{integer: ''}"))
        assert res.error is not None  # nothing else defined → no value attr? No:
        # ndef counts integer as present (is not None) → passes the arity
        # check, then every branch is falsy → ends in the no-usable-value error

    def test_iri_object(self):
        src = (
            "- prefix: ex\n  iri: http://x/\n"
            + S.format(obj="{iri: 'ex:thing'}")
        )
        t = triples(src)
        assert t[0][2] == "iri" and t[0][3] == "http://x/thing"

    def test_iri_unknown_prefix_raises(self):
        res = run(S.format(obj="{iri: 'nope:thing'}"))
        assert "no prefix declaration in scope" in res.error

    def test_multiple_value_attrs_raise(self):
        res = run(S.format(obj="{integer: '1', float: '2'}"))
        assert "more than one value attribute" in res.error

    def test_object_list_first_success(self):
        src = """
- prefix: ex
  iri: http://x/
- subject: http://e/s
  predicate: http://e/p
  object:
    - match: 'nope-(\\d+)'
      do: [{echo: 'no'}]
    - echo: fallback-value
"""
        t = triples(src, "text without the pattern")
        assert t[0][3] == "fallback-value"


# ---------------------------------------------------------------------------
# Node parsing (processor.py:2347-2367)


class TestNodes:
    def test_prefixed_subject(self):
        t = triples("- prefix: ex\n  iri: http://x/\n" + S.format(obj="'1'").replace("http://e/s", "ex:s1"))
        assert t[0][0] == "http://x/s1"

    def test_http_url_not_prefix(self):
        t = triples(S.format(obj="'1'"))
        assert t[0][0] == "http://e/s"

    def test_unknown_prefix_in_subject(self):
        res = run(S.format(obj="'1'").replace("http://e/s", "zz:s1"))
        assert "no prefix declaration in scope" in res.error


# ---------------------------------------------------------------------------
# Triple fan-out + inverse (processor.py:2226-2332)


class TestTripleEmission:
    def test_predicates_objects_fanout(self):
        src = """
- prefix: ex
  iri: http://x/
- subject: ex:s
  predicates:
    - predicate: ex:p1
      object: '1'
    - predicate: ex:p2
      objects:
        - object: '2'
        - object: '3'
"""
        t = triples(src)
        assert [(r[1], r[3]) for r in t] == [
            ("http://x/p1", "1"), ("http://x/p2", "2"), ("http://x/p2", "3"),
        ]

    def test_iri_ntriples_cannot_write_is_an_error_row(self):
        src = """
- match: 'Name: (.*)'
  as: n
  do:
    - subject: http://x/p_@{n.1}
      predicate: http://x/q
      object: v
"""
        res = run(src, 'Name: a b> "c"\n')
        iri = 'http://x/p_a b> "c"\n'
        assert res.error == f"IRI {iri!r} holds a character N-Triples cannot write"
        assert res.triples == [] and res.no_triples == 0

    @pytest.mark.parametrize("char", list('<>"{}|^`\\ ') + ["\x00", "\t", "\x1f"])
    @pytest.mark.parametrize("term", ["subject", "predicate", "object"])
    def test_forbidden_iri_characters_raise_in_every_iri_term(self, term, char):
        """N-Triples IRIREF forbids these; U+0000-U+001F is a deviation
        (rdflib lets control characters through)."""
        step = {"subject": "http://x/s", "predicate": "http://x/p", "object": {"iri": "http://x/o"}}
        step[term] = {"iri": "http://x/a@{v}"} if term == "object" else "http://x/a@{v}"
        res = run(yaml.safe_dump([step]), doc_vars={"v": char})
        assert res.error == f"IRI {'http://x/a' + char!r} holds a character N-Triples cannot write"
        step["object"] = "^x@{v}"  # a literal object may hold any of them
        step[term if term != "object" else "subject"] = "http://x/t"
        assert run(yaml.safe_dump([step]), doc_vars={"v": char}).error is None

    def test_inverse_emits_reversed(self):
        src = """
- prefix: ex
  iri: http://x/
- subject: ex:a
  predicate: ex:partOf
  inverse: ex:hasPart
  object: {iri: 'ex:b'}
"""
        t = triples(src)
        assert (t[0][0], t[0][1], t[0][3]) == ("http://x/a", "http://x/partOf", "http://x/b")
        assert (t[1][0], t[1][1], t[1][3]) == ("http://x/b", "http://x/hasPart", "http://x/a")

    @pytest.mark.parametrize("obj, literal", [
        ("hello", "hello"), ("'a b'", "a b"), ("{integer: '7'}", "7"),
    ])
    def test_inverse_on_a_literal_object_is_an_error_row(self, obj, literal):
        """Turtle has no literal subject: the forward triple stays and the
        reversed one raises, where the reference wrote <hello> as an IRI."""
        res = run(S.format(obj=obj) + "  inverse: http://x/q\n")
        assert res.error == f"inverse: needs an IRI object, got the literal {literal!r}"
        assert [r[:4] for r in res.triples] == [("http://e/s", "http://e/p", "literal", literal)]
        assert res.no_triples == 1

    def test_graph_set_dedup_and_raw_count(self):
        # rdflib set semantics vs no_triples raw count (processor.py:2319-2320)
        src = """
- prefix: ex
  iri: http://x/
- match-every: 'x'
  do:
    - subject: ex:s
      predicate: ex:p
      object: same
"""
        res = run(src, "xxx")
        assert res.error is None
        assert len(res.triples) == 1
        assert res.no_triples == 3

    def test_subject_redefinition_raises(self):
        src = """
- prefix: ex
  iri: http://x/
- subject: ex:s
  predicates:
    - subject: ex:other
      predicate: ex:p
      object: '1'
"""
        assert "subject already set" in run(src).error


# ---------------------------------------------------------------------------
# Control flow, vars, procedures


class TestControlFlow:
    def test_any_of_first_success(self):
        src = """
- prefix: ex
  iri: http://x/
- any-of:
    - match: 'zebra'
      do: [{subject: 'ex:s', predicate: 'ex:p', object: zebra}]
    - match: 'cat'
      do: [{subject: 'ex:s', predicate: 'ex:p', object: cat}]
    - match: 'dog'
      do: [{subject: 'ex:s', predicate: 'ex:p', object: dog}]
"""
        t = triples(src, "cat dog")
        assert len(t) == 1 and t[0][3] == "cat"

    def test_if_python_truth(self):
        src = """
- set: n
  to: '3'
- if: int(n) > 2
  do: [{subject: 'http://e/s', predicate: 'http://e/p', object: big}]
- if: int(n) > 5
  do: [{subject: 'http://e/s', predicate: 'http://e/p', object: bigger}]
"""
        t = triples(src)
        assert [r[3] for r in t] == ["big"]

    def test_ifdef_variable_and_match_group(self):
        src = """
- set: v
  to: 'x'
- ifdef: v
  do: [{subject: 'http://e/s', predicate: 'http://e/p', object: hasv}]
- ifdef: w
  do: [{subject: 'http://e/s', predicate: 'http://e/p', object: hasw}]
- match: 'a(x)?(b)'
  as: m
  do:
    - ifdef: m.2
      do: [{subject: 'http://e/s', predicate: 'http://e/p', object: g2}]
    - ifndef: m.1
      do: [{subject: 'http://e/s', predicate: 'http://e/p', object: nog1}]
"""
        t = triples(src, "ab")
        assert [r[3] for r in t] == ["hasv", "g2", "nog1"]

    def test_set_eval_and_exec(self):
        src = """
- set: n
  eval: 1 + 2
- exec: "vars['m'] = vars['n'] * 10"
- subject: http://e/s
  predicate: http://e/p
  object: "@{m}"
"""
        t = triples(src)
        assert (t[0][3], t[0][5]) == ("30", XSD.integer)

    def test_set_dynamic_name(self):
        src = """
- set: idx
  to: '2'
- set: slot-@{idx}
  to: 'val2'
- subject: http://e/s
  predicate: http://e/p
  object: "^@{slot-2}"
"""
        assert triples(src)[0][3] == "val2"

    def test_append_and_for_each(self):
        src = """
- append: lst
  element: a
- append: lst
  element: b
- for-each: lst
  as: e
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "^@{e}-@{e_count}"
"""
        t = triples(src)
        assert [r[3] for r in t] == ["a-1", "b-2"]

    def test_set_list_is_copied_per_document(self):
        """append: grows the document's own copy of a list to:, not the
        compiled plan's, so a later document of the same plan starts over."""
        program = wf("- set: v\n  to: [a]\n- append: v\n  element: x\n- echo: '@{v}'\n")
        logs = [run_document("", program, collect_log=True).log for _ in range(3)]
        assert logs == [["ECHO: ['a', 'x']"]] * 3

    def test_procedure_append_reaches_callers_list(self):
        """call copies the variables shallowly: a procedure's append: grows
        the caller's list in place, and that stays visible after the call."""
        src = """
- set: v
  to: [a]
- procedure: p
  do: [{append: v, element: y}]
- call: p
- echo: '@{v}'
"""
        assert run(src, collect_log=True).log == ["ECHO: ['a', 'y']"]

    def test_for_each_missing_list_is_failure_not_error(self):
        src = """
- for-each: nolist
  as: e
  do: [{pass: x}]
- subject: http://e/s
  predicate: http://e/p
  object: after
"""
        t = triples(src)
        assert [r[3] for r in t] == ["after"]

    def test_procedure_call_scoping(self):
        # copy-in/copy-out + state restore (processor.py:1153-1186)
        src = """
- procedure: emit
  do:
    - set: inner
      to: "got-@{arg}"
    - set: leaked
      to: 'should-not-escape'
- set: leaked
  to: 'outer'
- call: emit
  with:
    arg: hello
  return:
    inner: result
- subject: http://e/s
  predicate: http://e/p
  object: "^@{result}|@{leaked}"
"""
        t = triples(src)
        assert t[0][3] == "got-hello|outer"

    def test_call_unknown_procedure(self):
        assert "no procedure named" in run("- call: nope\n").error

    def test_clear(self):
        src = """
- set: v
  to: 'x'
- clear: v
- ifndef: v
  do: [{subject: 'http://e/s', predicate: 'http://e/p', object: cleared}]
"""
        assert triples(src)[0][3] == "cleared"


# ---------------------------------------------------------------------------
# Matching ops


class TestMatching:
    def test_match_pattern_list_first_matching(self):
        src = """
- match:
    - 'zebra (\\d+)'
    - 'cat (\\d+)'
  as: m
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "@{m.1}"
"""
        assert triples(src, "cat 7")[0][3] == "7"

    def test_match_every_first_body_replaces(self):
        src = """
- match-every: 'n=(\\d+)'
  as: m
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "^rest-@{m.1}"
  first:
    - subject: http://e/s
      predicate: http://e/p
      object: "^first-@{m.1}"
"""
        t = triples(src, "n=1 n=2 n=3")
        assert [r[3] for r in t] == ["first-1", "rest-2", "rest-3"]

    def test_replace_mutates_current_text(self):
        src = """
- replace: 'secret'
  with: 'XXX'
- match: 'XXX (\\d+)'
  as: m
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "@{m.1}"
"""
        assert triples(src, "secret 5")[0][3] == "5"

    def test_within_scoping_and_restore(self):
        src = """
- within: 'BEGIN(.*?)END'
  do:
    - match-every: '(\\w+)'
      as: w
      do:
        - subject: http://e/s
          predicate: http://e/p
          object: "^in-@{w.1}"
- match: '(outer)'
  as: o
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "^@{o.1}"
"""
        t = triples(src, "outer BEGIN a b END outer")
        assert [r[3] for r in t] == ["in-a", "in-b", "outer"]

    def test_within_empty_group_fails(self):
        src = """
- within: 'BEGIN()END'
  do: [{pass: x}]
- subject: http://e/s
  predicate: http://e/p
  object: after
"""
        res = run(src, "BEGINEND")
        assert res.no_matches == 0  # empty group → no match counted

    def test_with_computed_text(self):
        src = """
- set: v
  to: 'a-b-c'
- with: "@{v}"
  do:
    - match-every: '(\\w)'
      as: c
      do:
        - subject: http://e/s
          predicate: http://e/p
          object: "^c@{c.1}"
"""
        assert [r[3] for r in triples(src)] == ["ca", "cb", "cc"]

    def test_flags_add_to_dotall(self):
        # flags: I keeps DOTALL (processor.py:2754 OR-semantics)
        src = """
- match: 'a.(B)'
  flags: I
  as: m
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "@{m.1}"
"""
        assert triples(src, "a\nb")[0][3] == "b"


class TestSequenceOf:
    def test_alternatives_earliest_match_order(self):
        src = """
- sequence-of: scan
  alternatives:
    - match: 'B(\\d)'
      as: b
      do:
        - subject: http://e/s
          predicate: http://e/p
          object: "^B@{b.1}@{b_count}"
    - match: 'A(\\d)'
      as: a
      do:
        - subject: http://e/s
          predicate: http://e/p
          object: "^A@{a.1}@{a_count}"
"""
        # text order wins, not alternative order
        t = triples(src, "A1 .. B2 .. A3")
        assert [r[3] for r in t] == ["A11", "B21", "A32"]

    def test_steps_stop_at_first_failure(self):
        src = """
- sequence-of: steps
  steps:
    - match: 'one'
      do: [{subject: 'http://e/s', predicate: 'http://e/p', object: s1}]
    - match: 'two'
      do: [{subject: 'http://e/s', predicate: 'http://e/p', object: s2}]
    - match: 'three'
      do: [{subject: 'http://e/s', predicate: 'http://e/p', object: s3}]
"""
        t = triples(src, "one ... three")  # 'two' missing → stop before three
        assert [r[3] for r in t] == ["s1"]

    def test_steps_cursor_strictly_forward(self):
        src = """
- sequence-of: steps
  steps:
    - match: 'two'
      do: [{subject: 'http://e/s', predicate: 'http://e/p', object: s1}]
    - match: 'one'
      do: [{subject: 'http://e/s', predicate: 'http://e/p', object: s2}]
"""
        t = triples(src, "one two")  # 'one' occurs before cursor → no s2
        assert [r[3] for r in t] == ["s1"]

    def test_within_group_scoping(self):
        src = """
- sequence-of: scan
  alternatives:
    - match: '\\[(\\w+)\\]'
      within-group: 1
      do:
        - match: '(\\w+)'
          as: inner
          do:
            - subject: http://e/s
              predicate: http://e/p
              object: "^got-@{inner.1}"
"""
        assert [r[3] for r in triples(src, "[abc] [de]")] == ["got-abc", "got-de"]

    EMPTY_ALTERNATIVE = """
- sequence-of: s
  {mode}:
    - match: '{pattern}'
      do: [{{pass: 1}}]
"""

    @pytest.mark.parametrize("pattern, text, at", [("x*", "abc", 0), ("a*", "aab", 2)])
    def test_empty_alternative_match_is_an_error_row_not_a_hang(self, pattern, text, at):
        """The reference's lexer loops forever on an empty match at its
        cursor (documented deviation): the document becomes an error row."""
        t0 = time.monotonic()
        res = run(self.EMPTY_ALTERNATIVE.format(mode="alternatives", pattern=pattern), text)
        assert time.monotonic() - t0 < 1.0
        assert res.error == (
            f"sequence-of s: an alternative matched the empty string at {at}; "
            "the cursor cannot advance"
        )
        assert res.no_matches == (1 if at else 0)

    def test_empty_step_match_runs_once(self):
        res = run(self.EMPTY_ALTERNATIVE.format(mode="steps", pattern="x*"), "abc")
        assert res.error is None and res.no_matches == 1


    def test_lexer_keeps_each_alternatives_next_match(self, monkeypatch):
        """An alternative's next match is kept until the cursor passes it,
        so the lexer is linear: the far alternative is searched once to
        find its match and once past it, not once per token."""
        calls = []
        search = DocInterpreter._search_any

        def counting(interp, rx, start=0):
            calls.append(rx.pattern)
            return search(interp, rx, start)

        monkeypatch.setattr(DocInterpreter, "_search_any", counting)
        src = """
- sequence-of: s
  alternatives:
    - match: 'a'
      do: [{pass: 1}]
    - match: 'END'
      do: [{pass: 1}]
"""
        res = run(src, "a " * 50 + "END")
        assert res.error is None and res.no_matches == 51
        assert calls.count("END") == 2 and calls.count("a") == 51

    def test_lexer_searches_again_after_a_body_replace(self):
        """A body's replace: makes a new text, so a kept match of the
        other alternative is searched again: the new z comes first."""
        emit = "{subject: http://e/s, predicate: http://e/p, object: '^@{t.1}@{t_count}'}"
        src = f"""
- sequence-of: s
  alternatives:
    - match: '(x)'
      as: t
      do: [{{replace: q, with: z}}, {emit}]
    - match: '(z)'
      as: t
      do: [{emit}]
"""
        assert [t[3] for t in triples(src, "x q x z")] == ["x1", "z2", "x3", "z4"]


class TestMatchDimensions:
    TABLE = "<tr><td>h1</td><td>h2</td></tr><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr>"

    def test_cell_walk_and_indexed_bodies(self):
        src = """
- match-dimensions:
    - '<tr>(.*?)</tr>'
    - '<td>(.*?)</td>'
  dimensions: [row, col]
  as: cell
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "^c-@{row}-@{col}-@{cell.1}"
  do-1-*:
    - subject: http://e/s
      predicate: http://e/p
      object: "^hdr-@{col}-@{cell.1}"
"""
        t = triples(src, self.TABLE)
        assert [r[3] for r in t] == [
            "hdr-1-h1", "hdr-2-h2",
            "c-2-1-a", "c-2-2-b", "c-3-1-c", "c-3-2-d",
        ]

    def test_pre_tag_dimension_and_tag_bodies(self):
        src = """
- match-dimensions:
    - '<tr>(.*?)</tr>'
    - '<td>(.*?)</td>'
  dimensions: [row, col]
  as: cell
  pre:
    - tag-dimension: 2
      at: 2
      as: val
  do: [{pass: x}]
  do-*-val:
    - subject: http://e/s
      predicate: http://e/p
      object: "^v-@{cell.1}"
  do-1-*:
    - pass: header
"""
        t = triples(src, self.TABLE)
        # tag match has priority over numeric/wildcard; header row excluded
        # only for col bodies that don't match tags... do-1-* applies to row 1.
        assert [r[3] for r in t] == ["v-b", "v-d"]

    def test_break_aborts_final_dimension(self):
        src = """
- match-dimensions:
    - '<tr>(.*?)</tr>'
    - '<td>(.*?)</td>'
  dimensions: [row, col]
  as: cell
  pre: [{pass: x}]
  do:
    - if: "'@{cell.1}' == 'b'"
      do: [{break: now}]
    - ifndef: stop
      do:
        - subject: http://e/s
          predicate: http://e/p
          object: "^k-@{cell.1}"
"""
        t = triples(src, self.TABLE)
        vals = [r[3] for r in t]
        # row 2: 'a' emitted, then 'b' breaks → 'b' body may run but break
        # happens before the emit for subsequent cells of that row; row 3 resumes
        assert "k-a" in vals and "k-c" in vals and "k-d" in vals

    BREAK_ON_A = """
- match-dimensions:
    - '<tr>(.*?)</tr>'
    - '<td>(.*?)</td>'
  dimensions: [row, col]
  as: cell
{pre}  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "^k-@{{cell.1}}"
    - if: "'@{{cell.1}}' == 'a'"
      do: [{{break: now}}]
"""

    def test_break_in_prescanned_table_skips_rest_of_its_row(self):
        """With pre:, break on row 2's first cell skips 'b'; row 3 runs."""
        t = triples(self.BREAK_ON_A.format(pre="  pre: [{pass: x}]\n"), self.TABLE)
        assert [r[3] for r in t] == ["k-h1", "k-h2", "k-a", "k-c", "k-d"]

    def test_break_without_pre_stops_no_cell(self):
        t = triples(self.BREAK_ON_A.format(pre=""), self.TABLE)
        assert [r[3] for r in t] == ["k-h1", "k-h2", "k-a", "k-b", "k-c", "k-d"]

    @pytest.mark.parametrize("first", [
        "['<tr>(.*?)</tr>', '<td>(.*?)</td>']",
        "['<td>(.*?)</td>']\n      dimensions: [k]\n      pre: [{pass: 1}]",
    ], ids=["two-dimensional-without-pre", "one-dimensional-with-pre"])
    def test_break_acts_only_in_the_table_that_ran_it(self, first):
        """A break: in the first table does not reach the second one."""
        src = f"""
- within: '<t1>(.*?)</t1>'
  do:
    - match-dimensions: {first}
      do: [{{break: 1}}]
- within: '<t2>(.*?)</t2>'
  do:
    - match-dimensions: ['<tr>(.*?)</tr>', '<td>(.*?)</td>']
      dimensions: [r, k]
      as: cell
      pre: [{{pass: 1}}]
      do: [{{dump: _, file: 'f_@{{cell.1}}'}}]
"""
        text = "<t1>{}</t1><t2>{}</t2>".format(*(
            "".join(f"<tr><td>{a}</td><td>{b}</td></tr>" for a, b in rows)
            for rows in (("pq", "rs"), ("ab", "cd"))))
        res = run(src, text)
        assert res.error is None and sorted(res.texts) == ["f_a", "f_b", "f_c", "f_d"]

    def test_pre_without_dimensions_raises(self):
        src = "- match-dimensions: ['(a)']\n  pre: [{pass: 1}]\n  do: [{pass: 1}]\n"
        assert run(src, "a").error == "TypeError: object of type 'NoneType' has no len()"

    def test_match1_deprecated_header_rebinding(self):
        src = """
- match-1: '<tr>(.*?)</tr>'
  match-2: '<td>(.*?)</td>'
  as-1: row
  as-2: cell
  header-as: hdr
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "^@{hdr.1}=@{cell.1}"
  first: [{pass: header-row}]
"""
        t = triples(src, self.TABLE)
        assert [r[3] for r in t] == ["h1=a", "h2=b", "h1=c", "h2=d"]


# ---------------------------------------------------------------------------
# Mappings (processor.py:1992-2104)


class TestMappings:
    SRC = """
- mapping: m
  flags: I
  pairs:
    - from: Aspirin
      to: ASPIRIN-IRI
    - re: 'salt of (\\w+)'
      to: 'SALT:@{1}'
- map: "{value}"
  apply: m
  to: out
- subject: http://e/s
  predicate: http://e/p
  object: "^@{out}"
"""

    def _map(self, value):
        return triples(self.SRC.replace("{value}", value))[0][3]

    def test_exact_hit(self):
        assert self._map("Aspirin") == "ASPIRIN-IRI"

    def test_ignorecase_exact_hit(self):
        assert self._map("aspirin") == "ASPIRIN-IRI"

    def test_regex_hit_with_group_template(self):
        # QUIRK: the reference intends @{1} to reference the mapping-regex
        # groups (processor.py:2098-2101), but its expansion stringifies
        # the variable lookup BEFORE the None-check (processor.py:2644), so
        # the latest-match fallback is unreachable and @{1} expands to the
        # literal "None". Replicated for byte parity.
        assert self._map("salt of sodium") == "SALT:None"

    def test_identity_fallback(self):
        assert self._map("unknown") == "unknown"

    def test_unknown_mapping_raises(self):
        assert "no mapping named" in run("- map: x\n  apply: nope\n").error

    @pytest.mark.parametrize("value, mapped", [("abc", "5"), ("ABC", "5"), ("xyz", "7")],
                             ids=["exact", "ignore-case", "regex"])
    def test_non_string_to_maps_to_its_string_on_every_hit(self, value, mapped):
        src = ("- mapping: m\n  flags: I\n  pairs: [{from: abc, to: 5}, {re: 'x.*', to: 7}]\n"
               f"- map: {value}\n  apply: m\n  to: out\n" + S.format(obj="'^@{out}'"))
        assert triples(src)[0][3] == mapped


# ---------------------------------------------------------------------------
# Stats & scoring (processor.py:2713-2725)


class TestStats:
    def test_score_formula(self):
        src = "- match: '(abcd)'\n  do: [{pass: x}]\n- match: 'z'\n  do: [{pass: x}]\n"
        res = run(src, "abcd z")
        assert res.no_matches == 2
        assert res.total_match_len == 5
        assert math.isclose(res.score, (1 - 1 / 4) + (1 - 1 / 1))

    def test_match1_does_not_count_stats(self):
        src = "- match-1: '<tr>(.*?)</tr>'\n  match-2: '<td>(.*?)</td>'\n  do: [{pass: x}]\n"
        res = run(src, "<tr><td>a</td></tr>")
        assert res.no_matches == 0  # commented out in reference (:1658,1675)

    def test_inverse_counts_two_triples(self):
        src = """
- prefix: ex
  iri: http://x/
- subject: ex:a
  predicate: ex:p
  inverse: ex:q
  object: {iri: 'ex:b'}
"""
        assert run(src).no_triples == 2


# ---------------------------------------------------------------------------
# echo/desc/dump/save-as


class TestDiagnostics:
    def test_echo_desc_log(self):
        res = run("- desc: docstring\n- echo: 'v=@{x}'\n", doc_vars={"x": 1}, collect_log=True)
        assert res.log == ["DESC: docstring", "ECHO: v=1"]

    def test_dump_current_text_to_file(self):
        res = run("- dump: _\n  file: snap\n", text="the text")
        assert res.texts == {"snap": "the text"}

    def test_save_as(self):
        res = run("- save-as: out-@{doc}.ttl\n", doc_vars={"doc": "d1"})
        assert res.saved_as == ["out-d1.ttl"]


class TestRemainingOpSurface:
    def test_set_with_import(self):
        src = """
- set: v
  eval: math.floor(3.7)
  import: math
- subject: http://e/s
  predicate: http://e/p
  object: "@{v}"
"""
        assert triples(src)[0][3] == "3"

    def test_call_tilde_match_assertion(self):
        # with: {key: value}: a value starting with '~' asserts the match
        # named key[1:] exists (processor.py:1164-1169)
        src = """
- procedure: p
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "@{m.1}"
- match: '(xyz)'
  as: m
  do:
    - call: p
      with:
        "~m": "~"
"""
        assert triples(src, "xyz")[0][3] == "xyz"

    def test_call_tilde_missing_match_raises(self):
        src = """
- procedure: p
  do: [{pass: x}]
- call: p
  with:
    "~nope": "~"
"""
        assert "no stored match named" in run(src).error

    def test_within_explicit_group(self):
        src = """
- within: '(A)(B+)(C)'
  group: 2
  do:
    - match-every: 'B'
      do:
        - subject: http://e/s
          predicate: http://e/p
          object: "^b@{?n}"
"""
        res = run(src, "xABBBCx")
        # 3 B's matched inside group 2 scope + the within match itself
        assert res.no_matches == 4

    def test_sequence_of_pattern_list_alternative(self):
        # an alternative's match: may be a LIST of patterns (first match
        # wins within the list; processor.py:1517-1518, _try_res)
        src = """
- sequence-of: s
  alternatives:
    - match:
        - 'zebra(\\d)'
        - 'cat(\\d)'
      as: m
      do:
        - subject: http://e/s
          predicate: http://e/p
          object: "^got@{m.1}"
"""
        assert [r[3] for r in triples(src, "cat1 cat2")] == ["got1", "got2"]

    def test_match_dimensions_three_levels(self):
        text = (
            "[sec (r: <a><b>) (r: <c>)]"
            "[sec (r: <d>)]"
        )
        src = """
- match-dimensions:
    - '\\[sec (.*?)\\]'
    - '\\(r: (.*?)\\)'
    - '<(.*?)>'
  dimensions: [s, r, c]
  as: cell
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "^@{s}.@{r}.@{c}=@{cell.1}"
"""
        t = triples(src, text)
        assert [r[3] for r in t] == [
            "1.1.1=a", "1.1.2=b", "1.2.1=c", "2.1.1=d",
        ]

    def test_select_as_aliasing(self):
        from cmc_knowledge_graph_text2ttl_spark.workflow.interpreter import DocInterpreter, compile_plan
        from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import MiniGraph, make_query_fn
        from cmc_knowledge_graph_text2ttl_spark.workflow import run_document as rd

        graph = MiniGraph([("http://x/a", "http://x/p", "literal", "val", None)])
        src = """
- select: o
  from: g
  where: "SELECT ?o WHERE { <http://x/a> <http://x/p> ?o . }"
  as: renamed
- subject: http://e/s
  predicate: http://e/p
  object: "^@{renamed}"
"""
        res = rd("", wf(src), query_fn=make_query_fn({"g": graph}))
        assert res.error is None
        assert res.triples[0][3] == "val"

    def test_select_no_rows_is_failure(self):
        from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import MiniGraph, make_query_fn
        from cmc_knowledge_graph_text2ttl_spark.workflow import run_document as rd

        graph = MiniGraph([])
        src = """
- any-of:
    - select: o
      from: g
      where: "SELECT ?o WHERE { <http://x/a> <http://x/p> ?o . }"
    - subject: http://e/s
      predicate: http://e/p
      object: fallback
"""
        res = rd("", wf(src), query_fn=make_query_fn({"g": graph}))
        assert res.error is None and res.triples[0][3] == "fallback"


class TestMatch1Extras:
    TABLE = "<tr><td>h1</td><td>h2</td></tr><tr><td>a</td><td>b</td></tr>"

    def test_leading_body_and_leading_as(self):
        src = """
- match-1: '<tr>(.*?)</tr>'
  match-2: '<td>(.*?)</td>'
  as-1: row
  as-2: cell
  leading-as: lead
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "^cell-@{cell.1}-lead-@{lead.1}"
  first: [{pass: header}]
  leading:
    - subject: http://e/s
      predicate: http://e/p
      object: "^leading-@{cell.1}"
"""
        t = triples(src, self.TABLE)
        # row 2: first cell runs leading:, second runs do: with lead bound
        assert [r[3] for r in t] == ["leading-a", "cell-b-lead-a"]


class TestDumpAndSaveAsVariants:
    def test_dump_expanded_string(self):
        res = run("- set: v\n  to: 'xyz'\n- dump: 'val=@{v}'\n  file: out\n")
        assert res.texts == {"out": "val=xyz"}

    def test_save_as_dict_form(self):
        res = run("- save-as:\n    file: graph-@{doc}.ttl\n", doc_vars={"doc": "d"})
        assert res.saved_as == ["graph-d.ttl"]

    def test_within_pattern_list(self):
        src = """
- within:
    - 'AAA(.*?)ZZZ'
    - 'BBB(.*?)YYY'
  do:
    - match: '(inner)'
      as: m
      do:
        - subject: http://e/s
          predicate: http://e/p
          object: "@{m.1}"
"""
        assert triples(src, "BBB inner YYY")[0][3] == "inner"


class TestSmallGaps:
    def test_append_auto_wraps_scalar(self):
        src = """
- set: lst
  to: 'first'
- append: lst
  element: second
- for-each: lst
  as: e
  do:
    - subject: http://e/s
      predicate: http://e/p
      object: "^@{e}"
"""
        assert [r[3] for r in triples(src)] == ["first", "second"]

    def test_for_each_non_list_raises(self):
        src = "- set: v\n  to: 'scalar'\n- for-each: v\n  as: e\n  do: [{pass: x}]\n"
        assert "does not hold a list" in run(src).error

    def test_mapping_without_flags_is_case_sensitive(self):
        src = """
- mapping: m
  pairs:
    - from: Abc
      to: HIT
- map: 'abc'
  apply: m
  to: out
- subject: http://e/s
  predicate: http://e/p
  object: "^@{out}"
"""
        assert triples(src)[0][3] == "abc"  # identity: no IGNORECASE copy

    def test_echo_with_match_groups(self):
        src = "- match: '(a)(b)'\n  as: m\n  do:\n    - echo: '@{m.2}@{m.1}'\n"
        res = run(src, "ab", collect_log=True)
        assert res.log == ["ECHO: ba"]

    def test_sparql_a_keyword(self):
        from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import MiniGraph

        g = MiniGraph([
            ("http://x/e1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
             "iri", "http://x/T", None),
        ])
        out = g.query("SELECT ?s WHERE { ?s a <http://x/T> . }")
        assert [str(r["s"]) for r in out] == ["http://x/e1"]


# ---------------------------------------------------------------------------
# The compiled form: steps are compiled once and never written back to

# Steps whose first template is ``{t}`` and whose later attribute is missing
# or ill-typed, with that attribute's error.
BROKEN_LATER_ATTRIBUTE = {
    "append": ("- append: '{t}'\n", "step is missing its required 'element' attribute"),
    "ifdef": ("- ifdef: '{t}'\n  do: notalist\n",
              "Step attribute 'do' has invalid type; expected <class 'list'>"),
    "ifndef": ("- ifndef: '{t}'\n  do: notalist\n",
               "Step attribute 'do' has invalid type; expected <class 'list'>"),
    "with": ("- with: '{t}'\n  do: notalist\n",
             "Step attribute 'do' has invalid type; expected <class 'list'>"),
    "tag-dimension-at": ("- tag-dimension: '{t}'\n", "step is missing its required 'at' attribute"),
    "tag-dimension-as": ("- tag-dimension: '{t}'\n  at: 1\n",
                         "step is missing its required 'as' attribute"),
    "map": ("- map: '{t}'\n", "step is missing its required 'apply' attribute"),
    "select-do": ("- select: x\n  from: g\n  where: '{t}'\n  do: notalist\n",
                  "Step attribute 'do' has invalid type; expected <class 'list'>"),
    "select-as": ("- select: x\n  from: g\n  where: '{t}'\n  as: [x]\n",
                  "Step attribute 'as' has invalid type; expected <class 'str'>"),
}


class TestCompiledForm:
    @pytest.fixture(scope="class")
    def corpus(self):
        """The golden corpus (tools/make_goldens.py): extracted synth pages
        with their doc vars, and the ontology query handler."""
        from cmc_knowledge_graph_text2ttl_spark.operators.extract import extract_one
        from cmc_knowledge_graph_text2ttl_spark.operators.run import doc_vars_for_url
        from cmc_knowledge_graph_text2ttl_spark.sources.pages import synth_page_rows
        from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import (
            MiniGraph, make_query_fn, parse_ttl)

        with open(os.path.join(REPO, "fixtures", "ontology.ttl")) as fh:
            query_fn = make_query_fn({"ontology": MiniGraph(parse_ttl(fh.read()))})
        docs = []
        for url, _, html, _, _ in synth_page_rows(60):
            text, _, err = extract_one(html)
            if not err:
                docs.append((text, doc_vars_for_url(url)))
        return docs, query_fn

    @pytest.fixture(scope="class", params=sorted(
        glob.glob(os.path.join(REPO, "fixtures", "workflows", "*.yaml"))
        + glob.glob(os.path.join(REPO, "fixtures", "workflows_ops", "*.yaml"))
    ), ids=os.path.basename)
    def program(self, request):
        return compile_workflow_file(request.param)

    @staticmethod
    def _results(program, corpus):
        docs, query_fn = corpus
        return [
            run_document(text, program, doc_vars=dv, query_fn=query_fn, collect_log=True)
            for text, dv in docs
        ]

    def test_pickle_round_trip_gives_identical_results(self, program, corpus):
        # sc.broadcast pickles with the stdlib pickle, not cloudpickle
        clone = pickle.loads(pickle.dumps(program))
        assert self._results(clone, corpus) == self._results(program, corpus)

    def test_running_leaves_yaml_unchanged(self, program, corpus):
        raw = yaml.safe_load(program.source)
        before = copy.deepcopy(raw)
        frozen = pickle.dumps(program)
        self._results(program, corpus)
        for text, dv in corpus[0]:
            interp = DocInterpreter(text=text, query_fn=corpus[1], initial_vars=dv)
            try:
                execute_plan(interp, raw)
            except ProcessorException:
                pass
        assert raw == before
        assert yaml.safe_load(program.source) == before
        assert pickle.dumps(program) == frozen

    @pytest.mark.parametrize("src, message", [
        ("- prefix: ex\n  iri: http://e/\n- predicate: ex:p\n  object: x\n",
         "triple emission without a subject in scope: {step!r}"),
        (S.format(obj="{text: x, integer: '1'}"),
         "object spec {object!r} defines more than one value attribute (text, integer)"),
    ], ids=["no-subject", "text-and-integer"])
    def test_error_prints_step_as_written(self, src, message):
        step = yaml.safe_load(src)[-1]
        program = wf(src)
        errors = [run_document("same doc", program).error for _ in range(2)]
        assert errors == [message.format(step=step, object=step.get("object"))] * 2

    @pytest.mark.parametrize("src, path", [
        ("- subject: http://e/s\n  predicate: http://e/p\n"
         "  object: [{match: '(unclosed', do: [{set: v, to: x}]}]", "wf[0].object[0]"),
        ("- select: x\n  from: g\n  where: w\n  do: [{match: '(unclosed', do: [{pass: 1}]}]",
         "wf[0].do[0]"),
        ("- select: x\n  from: g\n  where: w\n  else: [{within: '(unclosed', do: [{pass: 1}]}]",
         "wf[0].else[0]"),
        ("- sequence-of: s\n  alternatives: [{match: '(unclosed', do: [{pass: 1}]}]", "wf[0]"),
        ("- sequence-of: s\n  steps: [{match: [a, '(unclosed'], do: [{pass: 1}]}]", "wf[0]"),
        ("- match-1: '(unclosed'\n  match-2: b\n  do: [{pass: 1}]", "wf[0]"),
        ("- match-1: a\n  match-2: '(unclosed'\n  do: [{pass: 1}]", "wf[0]"),
        ("- match-dimensions: ['(a)', '(unclosed']\n  do: [{pass: 1}]", "wf[0]"),
        ("- mapping: m\n  pairs: [{from: a, to: b}, {re: '(unclosed', to: x}]", "wf[0]"),
        ("- subject: http://e/s\n  predicates: [{predicate: http://e/p, object: x}]\n"
         "  objects: [{object: [{match: '(unclosed', do: [{pass: 1}]}]}]", "wf[0].objects[0].object[0]"),
    ], ids=["object-list", "select-do", "select-else", "sequence-of-alternatives",
            "sequence-of-steps-list", "match-1", "match-2", "match-dimensions", "mapping-re",
            "objects-beside-predicates"])
    def test_bad_static_regex_fails_compile(self, src, path):
        with pytest.raises(WorkflowCompileError, match=re.escape(path) + ": invalid regex"):
            wf(src)

    def test_static_lang_must_be_a_language_tag(self):
        """lang: is written verbatim, not template-expanded, so a template
        there used to emit the invalid N-Triples literal "v"@@{n.2}."""
        with pytest.raises(
            WorkflowCompileError,
            match=re.escape("wf[0].object: lang: '@{n.2}' is not a language tag"),
        ):
            wf(S.format(obj="{text: v, lang: '@{n.2}'}"))
        assert triples(S.format(obj="{text: v, lang: en-GB}"))[0][4] == "en-GB"

    @pytest.mark.parametrize("src, path", [
        ("- subject: http://e/s\n  predicate: http://e/p\n  object: [{exec: 'x = 1'}]",
         "wf[0].object[0]"),
        ("- select: x\n  from: g\n  where: w\n  do: [{exec: 'x = 1'}]", "wf[0].do[0]"),
        ("- select: x\n  from: g\n  where: w\n  else: [{set: v, eval: '1'}]", "wf[0].else[0]"),
        ("- subject: http://e/s\n  predicates: [{predicate: http://e/p, object: x}]\n"
         "  objects: [{object: [{exec: 'x = 1'}]}]", "wf[0].objects[0].object[0]"),
    ], ids=["object-list", "select-do", "select-else", "objects-beside-predicates"])
    def test_embedded_python_in_nested_plans_warns(self, src, path):
        warnings = wf(src).warnings
        assert len(warnings) == 1 and warnings[0].startswith(path + ": workflow embeds Python")

    def test_a_plan_without_nested_refs_segments_nothing_when_run(self, corpus, monkeypatch):
        """Templates are segmented when the plan compiles: running the fixture
        workflows, which hold no nested ref and no list object spec, on the
        golden corpus segments no string."""
        programs = [compile_workflow_file(p) for p in
                    sorted(glob.glob(os.path.join(REPO, "fixtures", "workflows", "*.yaml")))]
        calls = []
        monkeypatch.setattr(interpreter, "_segment", lambda t: calls.append(t) or _segment(t))
        results = [r for program in programs for r in self._results(program, corpus)]
        assert sum(len(r.triples) for r in results) > 0 and calls == []

    @pytest.mark.parametrize("src, message", BROKEN_LATER_ATTRIBUTE.values(),
                             ids=BROKEN_LATER_ATTRIBUTE.keys())
    def test_bad_attribute_is_the_error_of_a_step_broken_twice(self, src, message):
        """Every attribute is read when the step compiles: a bad one is the
        step's error before its first template (an undefined match) expands."""
        assert run(src.format(t="@{q.1}")).error == message

    @pytest.mark.parametrize("src, message", BROKEN_LATER_ATTRIBUTE.values(),
                             ids=BROKEN_LATER_ATTRIBUTE.keys())
    def test_bad_attribute_is_the_error_of_a_step_broken_once(self, src, message):
        assert run(src.format(t="1")).error == message

    @staticmethod
    def _held_errors(plan) -> Tuple[list, list]:
        """The errors a compiled plan holds where ``_raise`` or
        ``_op_triple`` raises them (a step's or object spec's ``_raise``
        argument, an emission), and any other error in its args."""
        allowed, stray = [], []

        def walk(x):
            if isinstance(x, Exception):
                stray.append(x)
            elif isinstance(x, tuple) and len(x) == 2 and x[0] is _raise:
                allowed.append(x[1])
            elif isinstance(x, tuple) and len(x) == 2 and x[0] is DocInterpreter._op_triple:
                for e in x[1]:
                    if isinstance(e, Exception):
                        allowed.append(e)
                    else:
                        walk(e)
            elif isinstance(x, (list, tuple, dict)):
                for y in x.values() if isinstance(x, dict) else x:
                    walk(y)

        walk(plan)
        return allowed, stray

    def test_compiled_args_hold_errors_only_in_raise_steps_and_emissions(self):
        """No handler unwraps an error from its args: the steps above, the
        fixture workflows and the control-sweep workflows hold an error only
        where ``_raise`` or ``_op_triple`` raises it."""
        from fixture_writers import CONTROL_SEED, CONTROL_WORKFLOWS, control_sweep_workflows

        sources = [(name, src.format(t=t)) for name, (src, _) in BROKEN_LATER_ATTRIBUTE.items()
                   for t in ("@{q.1}", "1")]
        for path in sorted(glob.glob(os.path.join(REPO, "fixtures", "workflows", "*.yaml"))
                           + glob.glob(os.path.join(REPO, "fixtures", "workflows_ops", "*.yaml"))):
            with open(path) as fh:
                sources.append((os.path.basename(path), fh.read()))
        sources += control_sweep_workflows(CONTROL_WORKFLOWS, CONTROL_SEED)
        allowed, stray = 0, {}
        for name, src in sources:
            try:
                plan = wf(src).plan
            except WorkflowCompileError:
                continue
            held, errors = self._held_errors(plan)
            allowed += len(held)
            if errors:
                stray[name] = errors
        assert allowed >= len(BROKEN_LATER_ATTRIBUTE) * 2 and stray == {}

    def test_interpreter_keeps_no_lru_cache(self):
        assert "lru_cache" not in inspect.getsource(interpreter)

    def test_every_handler_takes_interp_and_args(self):
        """One handler signature: whatever a step holds is in its prepared
        arguments, so no handler takes more than ``(interp, args)``."""
        handlers = {h for _, h in OPS.values()} | {_raise}
        for handler in handlers:
            params = list(inspect.signature(handler).parameters.values())
            assert len(params) == 2, handler.__name__
            assert all(p.kind is p.POSITIONAL_OR_KEYWORD and p.default is p.empty
                       for p in params), handler.__name__
