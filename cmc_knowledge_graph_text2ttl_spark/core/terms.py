"""RDF term model.

The engine needs no rdflib: terms are tiny immutable value objects whose
lexical forms are *defined here once* so that output is byte-stable across
executors, partitionings and reruns.

Lexical conventions (deterministic, used by both the oracle interpreter
and the distributed path):

* xsd:integer   — ``str(int(v))``           (so ``"+5"`` → ``"5"``)
* xsd:float     — ``str(float(v))``         (shortest round-trip repr;
                                             ``"nan"`` stays ``"nan"``)
* xsd:boolean   — ``"true"`` / ``"false"``
* xsd:date      — ``date.isoformat()``
* xsd:dateTime  — ``datetime.isoformat()``
* plain string  — the string itself, datatype ``None``

This matches the value semantics of the reference's rdflib literals
(text_to_turtle_processor.py:2370-2524) while keeping full control of the
serialized bytes.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional


class XSD:
    """XML Schema datatype IRIs used by the literal coercion cascade."""

    _NS = "http://www.w3.org/2001/XMLSchema#"
    integer = _NS + "integer"
    float = _NS + "float"
    boolean = _NS + "boolean"
    date = _NS + "date"
    dateTime = _NS + "dateTime"
    string = _NS + "string"


@dataclass(frozen=True)
class IriNode:
    """An IRI term (subject, predicate, or IRI object)."""

    value: str

    def __str__(self) -> str:  # template expansion binds str(term)
        return self.value


@dataclass(frozen=True)
class LitNode:
    """A literal term: exact lexical form + optional lang / datatype."""

    lexical: str
    lang: Optional[str] = None
    datatype: Optional[str] = None

    def __str__(self) -> str:  # template expansion binds str(term)
        return self.lexical

