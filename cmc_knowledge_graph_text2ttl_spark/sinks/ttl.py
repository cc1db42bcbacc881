"""Canonical N-Triples / Turtle serialization.

The reference serializes per-document rdflib graphs as ``longturtle``
(processor.py:77-83). For a distributed engine the primary sink is the
``triples`` table itself (Parquet/Iceberg); textual RDF output is a
secondary sink with a CANONICAL form so that output bytes are stable
across partitionings and reruns:

* N-Triples: one line per triple, sorted by (subj, pred, obj_lexical,
  obj_lang, obj_datatype); escaping per the N-Triples grammar.
* Turtle: prefix table + triples grouped by subject, subjects and
  predicates sorted — deterministic, diff-friendly.

Everything is expressed as JVM-side column expressions (concat/regexp)
so serialization runs inside whole-stage codegen, not Python.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _escape_col(c: Column) -> Column:
    """N-Triples string escaping as a codegen'd column expression."""
    c = F.regexp_replace(c, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', r'\\"')
    c = F.regexp_replace(c, "\n", r"\\n")
    c = F.regexp_replace(c, "\r", r"\\r")
    c = F.regexp_replace(c, "\t", r"\\t")
    return c


def format_nt_term(
    kind: Column, lexical: Column, lang: Column, datatype: Column
) -> Column:
    """Format an object term: <iri>, "lit", "lit"@lang, or "lit"^^<dt>."""
    lit = F.concat(F.lit('"'), _escape_col(lexical), F.lit('"'))
    lit_lang = F.concat(lit, F.lit("@"), lang)
    lit_dt = F.concat(lit, F.lit("^^<"), datatype, F.lit(">"))
    iri = F.concat(F.lit("<"), lexical, F.lit(">"))
    return (
        F.when(kind == "iri", iri)
        .when(lang.isNotNull(), lit_lang)
        .when(datatype.isNotNull(), lit_dt)
        .otherwise(lit)
    )


def triple_to_ntriples(df: DataFrame) -> DataFrame:
    """triples table → single-column ``line`` DataFrame (unsorted)."""
    obj = format_nt_term(
        F.col("obj_kind"),
        F.col("obj_lexical"),
        F.col("obj_lang"),
        F.col("obj_datatype"),
    )
    line = F.concat(
        F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"), F.lit("> "),
        obj, F.lit(" ."),
    )
    return df.select(line.alias("line"))


def write_ntriples(df: DataFrame, path: str) -> None:
    """Write the triples table as N-Triples text files in canonical byte
    order (a global sort on the line — one sampling job and one shuffle).
    """
    triple_to_ntriples(df).orderBy("line").write.mode("overwrite").text(path)


def triples_to_nt_lines(rows: List[tuple]) -> List[str]:
    """Pure-Python N-Triples lines (oracle-side golden generation).

    Accepts (subj, pred, obj_kind, obj_lexical, obj_lang, obj_datatype).
    """

    def esc(s: str) -> str:
        return (
            s.replace("\\", "\\\\")
            .replace('"', '\\"')
            .replace("\n", "\\n")
            .replace("\r", "\\r")
            .replace("\t", "\\t")
        )

    out = []
    for subj, pred, kind, lex, lang, dt in rows:
        if kind == "iri":
            obj = f"<{lex}>"
        elif lang:
            obj = f'"{esc(lex)}"@{lang}'
        elif dt:
            obj = f'"{esc(lex)}"^^<{dt}>'
        else:
            obj = f'"{esc(lex)}"'
        out.append(f"<{subj}> <{pred}> {obj} .")
    return sorted(out)


def serialize_turtle(
    rows: List[tuple],
    prefixes: Optional[Dict[str, str]] = None,
) -> str:
    """Deterministic Turtle for small per-document graphs (driver-side,
    mirrors the reference's per-doc .ttl outputs): ``@prefix`` header,
    subject blocks, one ``pred obj`` per line. The layout is this
    engine's diff-friendly form, not rdflib's ``longturtle``; outputs
    are compared as triple sets, not layouts. Exotic inputs (blank
    nodes, lists) are out of scope.
    """
    prefixes = dict(prefixes or {})

    def shorten(iri: str) -> str:
        for pfx, ns in sorted(prefixes.items(), key=lambda kv: -len(kv[1])):
            if iri.startswith(ns) and len(iri) > len(ns):
                member = iri[len(ns):]
                if member and all(c.isalnum() or c in "_-." for c in member):
                    return f"{pfx}:{member}"
        return f"<{iri}>"

    def term(kind, lex, lang, dt):
        if kind == "iri":
            return shorten(lex)
        esc = (
            lex.replace("\\", "\\\\")
            .replace('"', '\\"')
            .replace("\n", "\\n")
            .replace("\r", "\\r")
        )
        if lang:
            return f'"{esc}"@{lang}'
        if dt:
            return f'"{esc}"^^{shorten(dt)}'
        return f'"{esc}"'

    by_subj: Dict[str, List[str]] = {}
    for subj, pred, kind, lex, lang, dt in sorted(rows):
        by_subj.setdefault(subj, []).append(
            f"    {shorten(pred)} {term(kind, lex, lang, dt)}"
        )
    parts = [f"@prefix {p}: <{ns}> ." for p, ns in sorted(prefixes.items())]
    if parts:
        parts.append("")
    for subj in sorted(by_subj):
        parts.append(shorten(subj))
        parts.append(" ;\n".join(by_subj[subj]) + " .")
        parts.append("")
    return "\n".join(parts)


def export_per_doc_turtle(
    triples: DataFrame,
    out_dir: str,
    prefixes: Optional[Dict[str, str]] = None,
    max_docs: int = 100_000,
) -> int:
    """One ``.ttl`` file per document (runner.py:409-410 parity).

    A file-per-document sink is inherently a SMALL-corpus exporter — the
    distributed primary sink is the triples table itself. Rows stream to
    the driver grouped per document (one pass, no full collect) and each
    document's graph serializes with the canonical Turtle writer.
    Refuses corpora above ``max_docs`` documents (a driver-bound loop
    over millions of files is a misuse of this sink — write the triples
    table instead). Two documents whose names clean to the same file name
    raise ``ValueError`` before any file is written, instead of one
    silently overwriting the other. Returns the number of files written.
    """
    import os
    import re

    docs = triples.select("url").distinct().limit(max_docs + 1).collect()
    if len(docs) > max_docs:
        raise ValueError(
            f"export_per_doc_turtle is a small-corpus exporter: corpus has "
            f"> {max_docs} documents; write the triples table (Parquet) or "
            f"write_ntriples instead"
        )
    # doc-name cleanup mirrors runner.py:316-317
    doc_of = {}
    for doc in sorted(r[0] for r in docs):
        clean = re.sub(r"[^\x20-\x7F]", "-", re.sub(r"\s+", "-", doc))
        clean = clean.replace("/", "_").replace(":", "_")
        if clean in doc_of:
            raise ValueError(
                f"export_per_doc_turtle: documents {doc_of[clean]!r} and {doc!r} "
                f"both map to the file name {clean}.ttl"
            )
        doc_of[clean] = doc
    file_names = {doc: clean for clean, doc in doc_of.items()}
    os.makedirs(out_dir, exist_ok=True)
    grouped = (
        triples.groupBy("url")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "subj", "pred", "obj_kind", "obj_lexical",
                        "obj_lang", "obj_datatype",
                    )
                )
            ).alias("rows")
        )
    )
    n = 0
    for row in grouped.toLocalIterator():
        clean = file_names[row.url]
        rows = [
            (t.subj, t.pred, t.obj_kind, t.obj_lexical, t.obj_lang, t.obj_datatype)
            for t in row.rows
        ]
        with open(os.path.join(out_dir, f"{clean}.ttl"), "w", encoding="utf8") as fh:
            fh.write(serialize_turtle(rows, prefixes))
        n += 1
    return n
