"""Canonical N-Triples serialization.

The reference serializes per-document rdflib graphs as ``longturtle``
(processor.py:77-83). For a distributed engine the primary sink is the
``triples`` table itself (Parquet/Iceberg); textual RDF output is a
secondary sink with a CANONICAL form so that output bytes are stable
across partitionings and reruns: one N-Triples line per triple, escaped
per the N-Triples grammar, lines in byte order. ``ntriples_line`` is the
one writer of that line; ``write_ntriples`` writes the whole table and
``export_per_doc_turtle`` one file per document (N-Triples is a subset
of Turtle, so each file is valid Turtle).

The line is a JVM-side column expression (concat/regexp), so
serialization runs inside whole-stage codegen, not Python.
"""

from __future__ import annotations

from typing import List

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


def ntriples_line() -> Column:
    """The N-Triples line of a triples-table row: ``<subj> <pred> obj .``,
    the object as <iri>, "lit", "lit"@lang or "lit"^^<dt>; an empty
    lang or datatype counts as absent, as in ``triples_to_nt_lines``."""
    lexical, lang, datatype = F.col("obj_lexical"), F.col("obj_lang"), F.col("obj_datatype")
    lit = F.concat(F.lit('"'), _escape_col(lexical), F.lit('"'))
    obj = (
        F.when(F.col("obj_kind") == "iri", F.concat(F.lit("<"), lexical, F.lit(">")))
        .when(F.length(lang) > 0, F.concat(lit, F.lit("@"), lang))
        .when(F.length(datatype) > 0, F.concat(lit, F.lit("^^<"), datatype, F.lit(">")))
        .otherwise(lit)
    )
    return F.concat(
        F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"), F.lit("> "), obj, F.lit(" .")
    )


def write_ntriples(df: DataFrame, path: str) -> None:
    """Write the triples table as N-Triples text files in canonical byte
    order (a global sort on the line — one sampling job and one shuffle).
    """
    df.select(ntriples_line().alias("line")).orderBy("line").write.mode("overwrite").text(path)


def triples_to_nt_lines(rows: List[tuple]) -> List[str]:
    """Pure-Python N-Triples lines (oracle-side golden generation), the
    twin of ``ntriples_line``; ``tests/test_property.py`` holds the two
    byte-equal.

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


def export_per_doc_turtle(triples: DataFrame, out_dir: str, max_docs: int = 100_000) -> int:
    """One ``.ttl`` file per document (runner.py:409-410 parity): the
    document's ``ntriples_line`` lines, in ``write_ntriples``' byte order.

    A file-per-document sink is inherently a SMALL-corpus exporter — the
    distributed primary sink is the triples table itself. Lines stream to
    the driver grouped per document (one pass, no full collect).
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
    grouped = triples.groupBy("url").agg(
        F.sort_array(F.collect_list(ntriples_line())).alias("lines")
    )
    n = 0
    for row in grouped.toLocalIterator():
        with open(os.path.join(out_dir, f"{file_names[row.url]}.ttl"), "w", encoding="utf8") as fh:
            fh.writelines(f"{line}\n" for line in row.lines)
        n += 1
    return n
