"""Generate golden fixtures (FIXTURES.md §5): canonical N-Triples per
workflow over the deterministic synth corpus, per-url text sha256 hashes,
``match_sweep.csv``: one sha256 per seeded match-family workflow over
every field of its documents' results (``fixture_writers.match_sweep_digests``),
``emission_sweep.csv``: the same per seeded emission-family workflow, its
compile outcome included (``fixture_writers.emission_sweep_results``), and
``control_sweep.csv``: the same per seeded control-family workflow, each
run's log included (``fixture_writers.control_sweep_results``).

Run from the repo root: python tools/make_goldens.py
Goldens are produced by the SINGLE-PROCESS ORACLE interpreter — the Spark
engine is then regression-tested against these files (tests/test_golden.py).
"""

import csv
import glob
import hashlib
import os
import sys

sys.path.insert(0, ".")

from fixture_writers import (
    control_sweep_results,
    emission_sweep_results,
    logged_result_fields,
    match_sweep_digests,
    sweep_digests,
)

from cmc_knowledge_graph_text2ttl_spark.operators.extract import extract_one
from cmc_knowledge_graph_text2ttl_spark.operators.run import doc_vars_for_url
from cmc_knowledge_graph_text2ttl_spark.sinks import triples_to_nt_lines
from cmc_knowledge_graph_text2ttl_spark.sources.pages import synth_page_rows
from cmc_knowledge_graph_text2ttl_spark.workflow import compile_workflow_file, run_document
from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import parse_ttl, MiniGraph, make_query_fn

N_DOCS = 60
OUT = "fixtures/golden"


def main():
    os.makedirs(OUT, exist_ok=True)
    wf_paths = sorted(glob.glob("fixtures/workflows/*.yaml")) + sorted(
        glob.glob("fixtures/workflows_ops/*.yaml")
    )
    programs = [compile_workflow_file(p, index=i) for i, p in enumerate(wf_paths)]
    with open("fixtures/ontology.ttl") as fh:
        graphs = {"ontology": MiniGraph(parse_ttl(fh.read()))}
    query_fn = make_query_fn(graphs)

    docs = []
    with open(f"{OUT}/text_hashes.csv", "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["url", "sha256", "error"])
        for url, ts, html, _, lang in synth_page_rows(N_DOCS):
            text, ctype, err = extract_one(html)
            w.writerow(
                [url, hashlib.sha256(text.encode()).hexdigest() if text else "", err or ""]
            )
            if not err:
                docs.append((url, text))

    for prog in programs:
        lines = []
        n_err = 0
        for url, text in docs:
            res = run_document(
                text, prog, doc_vars=doc_vars_for_url(url), query_fn=query_fn
            )
            if res.error is not None:
                n_err += 1
                continue
            lines.extend(triples_to_nt_lines(res.triples))
        with open(f"{OUT}/{prog.name}.nt", "w") as fh:
            fh.write("\n".join(sorted(lines)) + "\n")
        print(f"{prog.name}: {len(lines)} triples, {n_err} doc errors")

    with open(f"{OUT}/match_sweep.csv", "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["workflow", "runs", "error_runs", "sha256"])
        w.writerows(match_sweep_digests())

    with open(f"{OUT}/emission_sweep.csv", "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["workflow", "runs", "error_runs", "sha256"])
        w.writerows(sweep_digests(emission_sweep_results()))

    with open(f"{OUT}/control_sweep.csv", "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["workflow", "runs", "error_runs", "sha256"])
        w.writerows(sweep_digests(control_sweep_results(), logged_result_fields))


if __name__ == "__main__":
    main()
