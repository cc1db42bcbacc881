"""Stage 2 — run compiled workflows over extracted pages.

The reference's nested per-document × per-workflow loop (runner.py:341-396)
becomes ONE row-local kernel (:func:`~.columns.map_rows`): the compiled
workflow list (and the ``select:`` reference graphs) are broadcast once;
each Arrow batch of documents is interpreted locally on the executor;
output is one row per (url, workflow) carrying the stats AND the triples
as a nested ``array<struct>`` column. ``run_workflows`` (extracted text)
and ``extract_and_run_workflows`` (html, extracted in the same kernel)
differ only in the columns they select.

Keeping triples nested at this point is deliberate: all of a document's
candidate rows are produced together in one task, so best-workflow
selection happens IN the UDF (``select_best=True``) with zero shuffle —
no join between a stats table and a triples table exists anywhere, and
the triple payloads never cross the cluster before the winner filter.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..workflow.compile import WorkflowProgram
from ..workflow.interpreter import run_document
from ..workflow.sparql import GraphRow, MiniGraph, make_query_fn
from .columns import map_rows
from .extract import resolve_text

TRIPLE_STRUCT = StructType(
    [
        StructField("subj", StringType(), True),
        StructField("pred", StringType(), True),
        StructField("obj_kind", StringType(), True),
        StructField("obj_lexical", StringType(), True),
        StructField("obj_lang", StringType(), True),
        StructField("obj_datatype", StringType(), True),
    ]
)

RESULTS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("workflow", StringType(), False),
        StructField("workflow_idx", IntegerType(), False),
        StructField("no_matches", LongType(), True),
        StructField("no_triples", LongType(), True),
        StructField("total_match_len", LongType(), True),
        StructField("score", DoubleType(), True),
        StructField("error", StringType(), True),
        StructField("triples", ArrayType(TRIPLE_STRUCT), True),
        # dump:-to-file outputs and save-as: requests (OutputHandler
        # equivalents, processor.py:780/977 — side outputs become columns)
        StructField(
            "texts",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType(), True),
                        StructField("text", StringType(), True),
                    ]
                )
            ),
            True,
        ),
        StructField("saved_as", ArrayType(StringType()), True),
    ]
)

_LOG_FIELD = StructField("log", ArrayType(StringType()), True)


def _results_schema(select_best: bool, collect_log: bool) -> StructType:
    """RESULTS_SCHEMA + optional is_best / log columns. The log side
    channel (echo/desc lines) is only materialized when asked for —
    at scale nobody pays for per-doc log arrays by default."""
    fields = list(RESULTS_SCHEMA.fields)
    if collect_log:
        fields.append(_LOG_FIELD)
    if select_best:
        fields.append(StructField("is_best", BooleanType(), False))
    return StructType(fields)


_WS = re.compile(r"\s+")
_NON_ASCII = re.compile(r"[^\x20-\x7F]")


def doc_vars_for_url(url: str) -> Dict[str, str]:
    """Seed per-document variables exactly like the runner (runner.py:312-317,
    367-369): ``doc`` = cleaned basename without extension, ``docname`` =
    basename, ``docpathname`` = the full path (here: the url)."""
    basename = url.rstrip("/").rsplit("/", 1)[-1] or url
    trunk = basename.rsplit(".", 1)[0] if "." in basename else basename
    clean = _NON_ASCII.sub("-", _WS.sub("-", trunk))
    return {"doc": clean, "docname": basename, "docpathname": url}


def _workflow_kernel(
    docs: DataFrame,
    programs: List[WorkflowProgram],
    graphs: Optional[Dict[str, List[GraphRow]]],
    extra_vars: Optional[Dict[str, str]],
    collect_log: bool,
    select_best: bool,
) -> DataFrame:
    """docs(url, text[, extract_error]) or docs(url, html, text) → results.

    With ``html`` the text comes from :func:`~.extract.resolve_text` and
    rows it cannot extract are skipped; without it, rows with an
    ``extract_error`` or a non-string ``text`` are skipped.
    """
    bc = docs.sparkSession.sparkContext.broadcast(
        (programs, graphs or {}, extra_vars or {})
    )
    fused = "html" in docs.columns

    def make_row_fn():
        progs, graph_rows, seed_extra = bc.value
        minigraphs = {k: MiniGraph(v) for k, v in graph_rows.items()}
        query_fn = make_query_fn(minigraphs) if minigraphs else None

        def run_doc(url: str, text: str):
            doc_vars = doc_vars_for_url(url)
            doc_vars.update(seed_extra)
            results = [
                run_document(
                    text,
                    prog,
                    doc_vars=dict(doc_vars),
                    query_fn=query_fn,
                    collect_log=collect_log,
                )
                for prog in progs
            ]
            # the reference's stable descending sort (runner.py:402-407):
            # errors never win, the earliest workflow wins ties
            best_idx = min(
                (i for i, r in enumerate(results) if r.error is None),
                key=lambda i: (
                    -results[i].no_triples,
                    -results[i].no_matches,
                    -results[i].total_match_len,
                    i,
                ),
                default=None,
            )
            for i, (prog, res) in enumerate(zip(progs, results)):
                row = (
                    url,
                    prog.name,
                    prog.index,
                    res.no_matches,
                    res.no_triples,
                    res.total_match_len,
                    res.score,
                    res.error,
                    # struct values as tuples in field order
                    res.triples,
                    list(res.texts.items()),
                    list(res.saved_as),
                )
                if collect_log:
                    row += (list(res.log),)
                if select_best:
                    row += (i == best_idx,)
                yield row

        if fused:

            def row_fn(url, raw, pre):
                text, _, err = resolve_text(raw, pre)
                return () if err else run_doc(url, text)

        else:

            def row_fn(url, text, extract_error=None):
                if isinstance(extract_error, str) and extract_error:
                    return ()
                return run_doc(url, text) if isinstance(text, str) else ()

        return row_fn

    return map_rows(docs, _results_schema(select_best, collect_log), make_row_fn)


def run_workflows(
    extracted: DataFrame,
    programs: List[WorkflowProgram],
    graphs: Optional[Dict[str, List[GraphRow]]] = None,
    extra_vars: Optional[Dict[str, str]] = None,
    collect_log: bool = False,
    select_best: bool = False,
) -> DataFrame:
    """extracted(url, text, ...) × broadcast(programs) → results table.

    Documents with extraction errors are skipped (the reference logs and
    continues, runner.py:335-339); per-(doc,workflow) ProcessorExceptions
    land in the ``error`` column and exclude that row from best-selection
    (the reference drops the result, runner.py:389-394).

    ``select_best=True`` adds the ``is_best`` top-1 flag *inside the UDF*:
    all candidate rows of one document are produced together in one task,
    so the best-workflow selection needs NO shuffle at all — the window
    variant (operators.best) exists for stats re-ranked from checkpoints,
    but the hot path never moves the triple payloads across the cluster.
    The tie-break is identical to the reference's stable descending sort
    (runner.py:402-407): earliest workflow wins ties.
    """
    cols = [c for c in ("url", "text", "extract_error") if c in extracted.columns]
    return _workflow_kernel(
        extracted.select(*cols), programs, graphs, extra_vars, collect_log, select_best
    )


def extract_and_run_workflows(
    pages: DataFrame,
    programs: List[WorkflowProgram],
    graphs: Optional[Dict[str, List[GraphRow]]] = None,
    extra_vars: Optional[Dict[str, str]] = None,
    select_best: bool = True,
    collect_log: bool = False,
) -> DataFrame:
    """Fused stage: html bytes → text → workflows → stats+triples in ONE
    Arrow-batched stage. Versus extract_text → run_workflows this removes
    an Arrow round-trip and a second Python worker per task — the fastest
    path when no extraction checkpoint is needed (the staged pipeline
    keeps them separate for resumability; this is the streaming/bench
    hot path). Results are identical by construction: the same text rule
    and the same workflow kernel run in both.
    """
    return _workflow_kernel(
        pages.select("url", "html", "text"),
        programs, graphs, extra_vars, collect_log, select_best,
    )


def explode_triples(results: DataFrame, winners_only: bool = False) -> DataFrame:
    """results → flat triples(url, workflow, subj, pred, obj_*).

    Per-document set semantics are already applied inside the interpreter
    (rdflib-graph dedup equivalent), so no distributed dropDuplicates is
    needed here — cross-document dedup is a *different*, optional operator.
    """
    df = results
    if winners_only and "is_best" in df.columns:
        df = df.filter(F.col("is_best"))
    return (
        df.filter(F.col("error").isNull())
        .select("url", "workflow", F.explode("triples").alias("t"))
        .select("url", "workflow", "t.*")
    )
