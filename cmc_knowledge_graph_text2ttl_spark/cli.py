"""spark-submit entry point for the KG-construction pipeline.

Usage (cluster):

    spark-submit --py-files kg_engine.zip -m cmc_knowledge_graph_text2ttl_spark.cli \\
        --pages s3://bucket/pages_iceberg \\
        --workflows 'workflows/*.yaml' \\
        --workdir s3://bucket/kg_run \\
        --run-scope crawl-2025-01 --buckets 4096

Local:

    python -m cmc_knowledge_graph_text2ttl_spark.cli \\
        --pages /tmp/pages.parquet --workflows 'fixtures/workflows/*.yaml' \\
        --workdir /tmp/kg_run --master 'local[32]'

The run is resumable: re-invoking with the same --workdir and --run-scope
skips completed buckets (a ``bucket NOT IN (<done buckets>)`` filter
driven by the lineage table; see plans.pipeline).
"""

from __future__ import annotations

import argparse
import glob
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="cmc_knowledge_graph_text2ttl_spark",
        description="PySpark-native KG construction: pages -> triples",
    )
    ap.add_argument("--pages", required=True, help="pages table (parquet path or iceberg:<table>)")
    ap.add_argument("--workflows", required=True, help="glob of workflow YAML files")
    ap.add_argument("--workdir", required=True, help="checkpoint/lineage root")
    ap.add_argument("--run-scope", default="run-0", help="resume identity")
    ap.add_argument("--buckets", type=int, default=64, help="url-hash buckets (work units)")
    ap.add_argument("--master", default=None, help="spark master (default: env/local[*])")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--ontology", default=None, help="TTL file for select: lookups")
    ap.add_argument(
        "--graph", "-g", action="append", default=[], metavar="NAME=SPEC",
        help="named select: graph — SPEC is a TTL file path or an "
        "http(s):// SPARQL endpoint (batch-prefetched once on the driver "
        "and broadcast; never per-row HTTP); repeatable",
    )
    ap.add_argument("--no-canonicalize", action="store_true")
    ap.add_argument("--ttl-out", default=None, help="also write canonical N-Triples here")
    ap.add_argument(
        "--per-doc-ttl", default=None,
        help="small-corpus export dir: one .ttl per document holding its winner "
        "triples as sorted N-Triples lines",
    )
    ap.add_argument(
        "--define", "-d", action="append", default=[], metavar="NAME=VALUE",
        help="seed a workflow variable (reference runner's -d; repeatable)",
    )
    return ap


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from .plans import KgPipeline
    from .session import get_spark
    from .sinks import export_per_doc_turtle, write_ntriples
    from .sources import read_pages
    from .workflow.compile import compile_workflow_file
    from .workflow.remote import is_remote_graph, resolve_graphs

    wf_paths = sorted(glob.glob(args.workflows))
    if not wf_paths:
        print(f"no workflows match {args.workflows!r}", file=sys.stderr)
        return 2
    programs = [compile_workflow_file(p, index=i) for i, p in enumerate(wf_paths)]
    for prog in programs:
        for w in prog.warnings:
            print(f"WARNING: {w}", file=sys.stderr)

    extra_vars = {}
    for d in args.define:
        if "=" not in d:
            print(f'invalid --define "{d}"; must be NAME=VALUE', file=sys.stderr)
            return 2
        name, value = d.split("=", 1)
        extra_vars[name] = value

    graph_specs = {}
    if args.ontology:
        with open(args.ontology, "r", encoding="utf8") as fh:
            graph_specs[args.ontology] = fh.read()  # named by its path
    for g in args.graph:
        if "=" not in g:
            print(f'invalid --graph "{g}"; must be NAME=SPEC', file=sys.stderr)
            return 2
        name, spec = g.split("=", 1)
        if is_remote_graph(spec):
            graph_specs[name] = spec  # resolve_graphs prefetches it
        else:
            with open(spec, "r", encoding="utf8") as fh:
                graph_specs[name] = fh.read()  # TTL source text
    graphs = resolve_graphs(graph_specs) if graph_specs else None

    spark = get_spark(
        app_name=f"kg-text2ttl:{args.run_scope}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    try:
        pages = read_pages(spark, args.pages)
        pipe = KgPipeline(
            spark,
            args.workdir,
            programs,
            run_scope=args.run_scope,
            n_buckets=args.buckets,
            graphs=graphs,
            canonicalize=not args.no_canonicalize,
            extra_vars=extra_vars,
        )
        out = pipe.run(pages)
        final = out.get("canonical", out["triples"])
        summary = {
            "run_scope": args.run_scope,
            "docs": out["extracted"].count(),
            "doc_workflow_rows": out["results"].count(),
            "winner_triples": out["triples"].count(),
            "final_triples": final.count(),
            "stages": sorted(out),
        }
        if args.ttl_out:
            write_ntriples(final, args.ttl_out)
            summary["ttl_out"] = args.ttl_out
        if args.per_doc_ttl:
            summary["per_doc_ttl_files"] = export_per_doc_turtle(
                out["triples"], args.per_doc_ttl
            )
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
