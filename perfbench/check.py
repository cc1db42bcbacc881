"""Output checks: winner triples of a deterministic document sample,
recomputed in process with ``run_document``, against the Spark result.

A triple is keyed by its url, workflow and six term columns; a set of
triples is summarised by its size and an order-independent hash (the sum
of the keys' md5 prefixes modulo 2**64).
"""

from __future__ import annotations

import hashlib
from typing import Iterable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cmc_knowledge_graph_text2ttl_spark.operators.extract import extract_one
from cmc_knowledge_graph_text2ttl_spark.operators.run import doc_vars_for_url
from cmc_knowledge_graph_text2ttl_spark.workflow.interpreter import run_document

TRIPLE_COLS = (
    "url", "workflow", "subj", "pred", "obj_kind", "obj_lexical", "obj_lang",
    "obj_datatype",
)
SAMPLE_DOCS = 64
_SEP, _NULL = "\x1f", "\x00"


def sample_rows(rows: Sequence[tuple]) -> List[tuple]:
    return list(rows[:: max(1, len(rows) // SAMPLE_DOCS)])


def triple_key(values: Iterable[Optional[str]]) -> str:
    return _SEP.join(_NULL if v is None else v for v in values)


def spark_key() -> Column:
    return F.concat_ws(_SEP, *[F.coalesce(F.col(c), F.lit(_NULL)) for c in TRIPLE_COLS])


def summary(keys: Iterable[str]) -> tuple:
    n, h = 0, 0
    for k in keys:
        n += 1
        h += int.from_bytes(hashlib.md5(k.encode()).digest()[:8], "big")
    return n, h % (1 << 64)


def best_index(results) -> Optional[int]:
    """The winner among one document's workflow results: most triples,
    then matches, then match length; the earliest workflow wins ties and
    errored results never win."""
    ok = [i for i, r in enumerate(results) if r.error is None]
    if not ok:
        return None
    return min(
        ok,
        key=lambda i: (
            -results[i].no_triples,
            -results[i].no_matches,
            -results[i].total_match_len,
            i,
        ),
    )


def document_text(html: Optional[bytes], text: Optional[str]) -> Optional[str]:
    """Pre-filled text wins; otherwise extract, and None on extract error."""
    if isinstance(text, str) and text:
        return text
    out, _, err = extract_one(html)
    return None if err else out


def expected_keys(rows: Sequence[tuple], programs) -> List[str]:
    """Winner-triple keys of ``rows`` (url, ts, html, text, lang)."""
    keys = []
    for url, _, html, pre, _ in rows:
        text = document_text(html, pre)
        if text is None:
            continue
        results = [
            run_document(text, p, doc_vars=doc_vars_for_url(url)) for p in programs
        ]
        b = best_index(results)
        if b is not None:
            name = programs[b].name
            keys += [triple_key((url, name) + tuple(t)) for t in results[b].triples]
    return keys


def mismatch(expected: List[str], got: List[str]) -> Optional[str]:
    """None when both key lists hold the same triples, else a reason."""
    e, g = summary(expected), summary(got)
    if e == g:
        return None
    return f"sample winner triples differ: expected {e[0]} (hash {e[1]:x}), got {g[0]} (hash {g[1]:x})"


def fingerprint_and_sample(triples: DataFrame, sample_urls: List[str]) -> tuple:
    """One pass over ``triples``: (count, order-independent hash, keys of
    the sample urls' triples)."""
    h = F.xxhash64(*TRIPLE_COLS)
    row = triples.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(1 << 32))).alias("lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("hi"),
        F.collect_list(F.when(F.col("url").isin(sample_urls), spark_key())).alias("keys"),
    ).first()
    return row["n"], ((row["hi"] or 0) << 32) + (row["lo"] or 0), list(row["keys"])
