"""Structured-data extraction: schema.org JSON-LD blocks → triples.

Most real pages carry their cleanest facts in
``<script type="application/ld+json">`` blocks, not prose — products,
articles, organizations annotated by the publisher. Extracting them is
KG construction with no NLP: locate the blocks (column regex), parse
the JSON (stdlib ``json`` inside one Arrow-batched ``mapInPandas`` —
JSON-LD is schemaless, so ``from_json`` with a fixed schema can't
express it), and flatten to (subj, pred, obj) rows that union directly
with the workflow engine's triples.

Flattening rules (the deterministic subset that covers real markup):

* a top-level object, or each element of a top-level array, is a node;
* subject = ``@id`` when present, else a stable blank id
  ``_:<url>#<block>/<index>``;
* ``@type`` → an ``rdf:type`` triple with the type as an IRI (compact
  names resolved against a vocabulary base, default schema.org);
* string/number/bool values → literal triples (numbers rendered via
  ``repr`` for floats, ``str`` for ints — deterministic);
* list values → one triple per element;
* nested objects → a blank-node triple plus recursive flattening;
* ``@graph`` members are INDEPENDENT nodes (the dominant CMS shape) —
  each flattens under its own subject, no synthetic linking triple;
* ``{"@value": x}`` value objects are literals, not nodes;
* ``@context`` is recorded but not expanded (full context processing
  needs remote fetches — out of scope by the same no-per-row-HTTP rule
  as ``select:``); malformed JSON yields an error row per block, never
  a task failure.
"""

from __future__ import annotations

import json
from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .columns import html_string, map_rows

__all__ = ["extract_jsonld", "flatten_jsonld"]

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

JSONLD_SCHEMA = StructType(
    [
        StructField("src", StringType(), False),
        StructField("subj", StringType(), True),
        StructField("pred", StringType(), True),
        StructField("obj_kind", StringType(), True),  # iri | literal
        StructField("obj", StringType(), True),
        StructField("error", StringType(), True),
    ]
)

# \stype boundary: data-type= must not satisfy the match; the value may
# be quoted (either quote) or bare (valid HTML5)
_SCRIPT_RE = (
    r"(?is)<script\b[^>]*\stype\s*=\s*"
    r"(?:[\"']application/ld\+json[\"']|application/ld\+json(?=[\s>]))"
    r"[^>]*>(.*?)</script\s*>"
)


def _term(name: str, vocab: str) -> str:
    return name if name.startswith(("http://", "https://")) else vocab + name


def _render(value) -> str:
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        return repr(value)
    return str(value)


def flatten_jsonld(
    node, subj: str, vocab: str, out: List[Tuple[str, str, str, str]],
    bnode_prefix: str, counter: List[int],
) -> None:
    """One JSON-LD node → triples appended to ``out`` (recursive)."""
    for key, value in node.items():
        if key in ("@context", "@id", "@value"):
            continue
        if key == "@graph":
            # the dominant CMS shape: a bag of INDEPENDENT nodes — each
            # member flattens under its own subject, no linking triple
            # (a synthetic "@graph" predicate would represent nothing)
            members = value if isinstance(value, list) else [value]
            for i, member in enumerate(members):
                if not isinstance(member, dict):
                    continue
                mid = member.get("@id")
                if not isinstance(mid, str):
                    counter[0] += 1
                    mid = f"{bnode_prefix}/b{counter[0]}"
                flatten_jsonld(member, mid, vocab, out, bnode_prefix, counter)
            continue
        if key == "@type":
            types = value if isinstance(value, list) else [value]
            for t in types:
                out.append((subj, RDF_TYPE, "iri", _term(str(t), vocab)))
            continue
        pred = _term(key, vocab)
        values = value if isinstance(value, list) else [value]
        for v in values:
            if isinstance(v, dict):
                if "@value" in v:
                    # a value object IS a literal, not a node
                    out.append((subj, pred, "literal", _render(v["@value"])))
                    continue
                child = v.get("@id")
                if not isinstance(child, str):
                    counter[0] += 1
                    child = f"{bnode_prefix}/b{counter[0]}"
                out.append((subj, pred, "iri", child))
                flatten_jsonld(v, child, vocab, out, bnode_prefix, counter)
            elif v is None:
                continue
            else:
                out.append((subj, pred, "literal", _render(v)))


def extract_jsonld(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    vocab: str = "https://schema.org/",
) -> DataFrame:
    """pages → (src, subj, pred, obj_kind, obj, error) triples from
    every JSON-LD block. The block scan is a column regex; only the
    JSON parse + flatten runs in Python (schemaless input). A malformed
    block yields one error row for that block; other blocks of the same
    page still extract."""
    html = html_string(df, html_col)
    blocks = df.select(
        F.col(url_col).alias("src"),
        F.posexplode(
            F.regexp_extract_all(html, F.lit(_SCRIPT_RE), 1)
        ).alias("block_idx", "payload"),
    )

    def row_fn(src, bidx, payload):
        # RecursionError: hostile/deeply-nested JSON is not a
        # ValueError subclass — it must still become ONE error
        # row, never a task failure
        try:
            doc = json.loads(payload)
            nodes = doc if isinstance(doc, list) else [doc]
            triples: List[Tuple[str, str, str, str]] = []
            counter = [0]
            for i, node in enumerate(nodes):
                if not isinstance(node, dict):
                    continue
                nid = node.get("@id")
                if not isinstance(nid, str):
                    nid = f"_:{src}#{bidx}/{i}"
                flatten_jsonld(
                    node, nid, vocab, triples,
                    f"_:{src}#{bidx}/{i}", counter,
                )
        except (ValueError, RecursionError) as ex:
            yield (src, None, None, None, None,
                   f"bad json: {type(ex).__name__}: {ex}")
            return
        for s, p, k, o in triples:
            yield (src, s, p, k, o, None)

    return map_rows(blocks, JSONLD_SCHEMA, lambda: row_fn)
