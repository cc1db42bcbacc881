"""Every metric the benchmark prints: name -> unit.

BENCHMARK.json lists the same names; ``test_perfbench`` keeps the two in
step. End-to-end metrics come from untraced runs (``--trace 0``), per-layer
metrics from the traced run (``--trace 1``). A per-layer metric of a layer
that a workload does not call reads 0 on that workload.
"""

from __future__ import annotations

import re

NAME_RULE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "triples_per_s": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

# Metric prefix -> the package module whose public calls it times.
LAYERS = {
    "sources": "sources",
    "extract": "operators.extract",
    "workflow": "workflow",
    "run": "operators.run",
    "canonicalize": "operators.canonicalize",
    "ttl": "sinks.ttl",
    "pipeline": "plans.pipeline",
    "cli": "cli",
}

WORKFLOWS = ("wf_entities", "wf_kv", "wf_sections", "wf_table", "wf_ops", "wf_wide")
PIPELINE_DIRS = ("extract", "results", "triples", "canonical", "lineage")

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.rows": "count",
    "sources.input_bytes": "B",
    "sources.partitions": "count",
    "extract.busy_s": "s",
    "extract.spark_s": "s",
    "extract.docs": "count",
    "extract.error_docs": "count",
    "workflow.compile_s": "s",
    **{f"workflow.interpret_s.{w}": "s" for w in WORKFLOWS},
    **{f"workflow.triples.{w}": "count" for w in WORKFLOWS},
    **{f"workflow.error_rows.{w}": "count" for w in WORKFLOWS},
    "run.kernel_s": "s",
    "run.overhead_s": "s",
    "run.candidate_triples": "count",
    "run.winner_triples": "count",
    "run.useful_triple_ratio": "ratio",
    "canonicalize.cc_s": "s",
    "canonicalize.edges": "count",
    "canonicalize.rewrite_s": "s",
    "canonicalize.triples_in": "count",
    "canonicalize.triples_out": "count",
    "ttl.write_s": "s",
    "ttl.lines": "count",
    "ttl.bytes": "B",
    "pipeline.fresh_s": "s",
    "pipeline.stage_sum_s": "s",
    "pipeline.overhead_s": "s",
    "pipeline.jobs": "count",
    "pipeline.resume_jobs": "count",
    "pipeline.failed_tasks": "count",
    **{f"pipeline.bytes_written.{d}": "B" for d in PIPELINE_DIRS},
    "pipeline.write_amplification": "ratio",
    "cli.summary_s": "s",
    "cli.resume_s": "s",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.wall_s": "s",
    "trace.untraced_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}
