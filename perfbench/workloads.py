"""The workloads: what one timed run does, how its output is checked, and
the traced run's layer probes.

Each workload is a closed loop with one client: the next run starts when
the previous one has finished and been checked.

The layer probes are the same on every workload and run on the workload's
own input, so every per-layer metric is measured on every workload: the
sources scan, ``extract_text`` and the workload's kernel to a noop sink,
the in-worker busy time of ``extract_one`` and of ``run_document`` for all
six workflows, the calls ``cli.main`` makes (fresh and resumed; taken from
the traced run itself on ``cli_resumable``), the four pipeline stages run
bare, and canonicalization of the bare stages' winner triples.
"""

from __future__ import annotations

import glob
import hashlib
import itertools
import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, Iterator, List

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cmc_knowledge_graph_text2ttl_spark.cli import build_parser
from cmc_knowledge_graph_text2ttl_spark.operators.canonicalize import (
    canonicalize_triples,
    connected_components,
    sameas_edges,
)
from cmc_knowledge_graph_text2ttl_spark.operators.extract import extract_one, extract_text
from cmc_knowledge_graph_text2ttl_spark.operators.run import (
    doc_vars_for_url,
    explode_triples,
    extract_and_run_workflows,
    run_workflows,
)
from cmc_knowledge_graph_text2ttl_spark.plans import KgPipeline
from cmc_knowledge_graph_text2ttl_spark.sinks import write_ntriples
from cmc_knowledge_graph_text2ttl_spark.sources import read_pages
from cmc_knowledge_graph_text2ttl_spark.workflow.compile import compile_workflow_file
from cmc_knowledge_graph_text2ttl_spark.workflow.interpreter import run_document

from . import check, inputs
from .metrics import PIPELINE_DIRS

ROOT = Path(__file__).resolve().parent.parent
FIXTURE_WORKFLOWS = str(ROOT / "fixtures" / "workflows" / "*.yaml")
STAGES = ("extract", "results", "triples", "canonical")
# The CLI's default is 64 buckets. At 64 a warm run of this workload takes
# about 26 s and its warm-up 50 s on 4 vCPUs, too long for the benchmark's
# time budget; 16 keeps every stage, write and lineage step at about 15 s.
CLI_BUCKETS = 16


def fixture_programs() -> list:
    return [
        compile_workflow_file(p, index=i)
        for i, p in enumerate(sorted(glob.glob(FIXTURE_WORKFLOWS)))
    ]


def entry_programs() -> list:
    import __spark_entry__

    return __spark_entry__._programs()


@dataclass
class Outcome:
    wall_s: float
    triples: int  # final triples: winners, or canonical triples on the CLI path
    fingerprint: tuple  # must repeat exactly on every run of one seed
    sample_keys: List[str]  # winner-triple keys of the sample documents
    extra: Dict[str, float] = field(default_factory=dict)
    problems: List[str] = field(default_factory=list)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(tr, name: str, fn):
    with tr.span(name):
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out


def _du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


# -- the calls cli.main makes ------------------------------------------------

_groups = itertools.count()


def _failed_tasks(sc, job_ids) -> int:
    st = sc.statusTracker()
    n = 0
    for j in job_ids:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = st.getStageInfo(s)
            n += stage.numFailedTasks if stage else 0
    return n


def _cli_args(table: Path, wd: Path):
    return build_parser().parse_args(
        ["--pages", str(table), "--workflows", FIXTURE_WORKFLOWS,
         "--workdir", str(wd), "--ttl-out", str(wd / "ttl"), "--buckets", str(CLI_BUCKETS)]
    )


def cli_calls(spark, table: Path, programs, wd: Path, tr, tag: str, ex: dict) -> dict:
    """``read_pages``, ``KgPipeline`` with the CLI defaults, the CLI's four
    summary counts and ``write_ntriples`` of the final table, as ``cli.main``
    makes them with ``--ttl-out``. Times and job counts go into ``ex``."""
    args = _cli_args(table, wd)
    sc = spark.sparkContext
    with tr.span("sources.read_pages"):
        pages = read_pages(spark, args.pages)
    group = f"perfbench-{tag}-{os.getpid()}-{next(_groups)}"
    sc.setJobGroup(group, f"KgPipeline.run ({tag})")
    t0 = time.perf_counter()
    with tr.span("pipeline.run"):
        out = KgPipeline(
            spark, args.workdir, programs, run_scope=args.run_scope,
            n_buckets=args.buckets, canonicalize=not args.no_canonicalize,
            extra_vars={},
        ).run(pages)
    ex[f"{tag}.pipeline_s"] = time.perf_counter() - t0
    sc.setJobGroup(f"{group}-tail", "cli summary and TTL")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    ex[f"{tag}.jobs"] = len(jobs)
    ex[f"{tag}.failed_tasks"] = _failed_tasks(sc, jobs)
    final = out.get("canonical", out["triples"])
    t0 = time.perf_counter()
    with tr.span("cli.summary"):
        summary = {
            "docs": out["extracted"].count(),
            "doc_workflow_rows": out["results"].count(),
            "winner_triples": out["triples"].count(),
            "final_triples": final.count(),
        }
    ex[f"{tag}.summary_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tr.span("ttl.write_ntriples"):
        write_ntriples(final, args.ttl_out)
    ex[f"{tag}.ttl_s"] = time.perf_counter() - t0
    sc.setJobGroup(f"{group}-done", "perfbench")
    return summary


def _digests(wd: Path) -> Dict[str, str]:
    """Content digests of every stage output file plus the TTL text."""
    out = {}
    for stage in STAGES:
        for p in sorted((wd / stage).rglob("*")):
            if p.is_file():
                out[str(p.relative_to(wd))] = hashlib.sha256(p.read_bytes()).hexdigest()
    ttl = hashlib.sha256()
    for p in sorted((wd / "ttl").glob("part-*")):
        ttl.update(p.read_bytes())
    out["ttl"] = ttl.hexdigest()
    return out


def fresh_and_resume(
    spark, table: Path, input_bytes: int, programs, wd: Path, tr, span: str
) -> tuple:
    """The CLI calls into an empty ``wd``, inside span ``span``, then again
    as a no-op resume.

    Returns (fresh wall seconds, fresh summary, extra numbers, problems):
    the resume must leave every stage output and the TTL bytes as the
    fresh run wrote them, and report the same summary.
    """
    shutil.rmtree(wd, ignore_errors=True)
    ex: Dict[str, float] = {}
    with tr.span(span):
        t0 = time.perf_counter()
        fresh = cli_calls(spark, table, programs, wd, tr, "fresh", ex)
        wall = time.perf_counter() - t0
    before = _digests(wd)
    for d in PIPELINE_DIRS:
        ex[f"bytes.{d}"] = _du(wd / d)
    ttl_parts = sorted((wd / "ttl").glob("part-*"))
    ex["ttl.bytes"] = sum(p.stat().st_size for p in ttl_parts)
    ex["ttl.lines"] = sum(p.read_bytes().count(b"\n") for p in ttl_parts)
    ex["write_amplification"] = _du(wd) / input_bytes
    with tr.span("workload.resume"):
        t0 = time.perf_counter()
        resumed = cli_calls(spark, table, programs, wd, tr, "resume", ex)
        ex["resume_s"] = time.perf_counter() - t0
    problems = []
    if _digests(wd) != before:
        problems.append("the no-op resume changed stage outputs or TTL bytes")
    if resumed != fresh:
        problems.append(f"resume summary {resumed} != fresh summary {fresh}")
    return wall, fresh, ex, problems


# -- in-worker busy time -------------------------------------------------------


def _busy_kernel(programs, own: int):
    """mapInPandas body that times each document's text step (``extract_one``,
    or taking the pre-filled text) and each ``run_document`` call in the
    Python worker, and yields the sums and counts as rows. The first ``own``
    programs are the workload's; only they enter the ``run.*`` counts."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: Dict[str, float] = defaultdict(float)
        for pdf in batches:
            for url, html, pre in zip(pdf["url"], pdf["html"], pdf["text"]):
                t0 = time.perf_counter()
                if isinstance(pre, str) and pre:
                    text, err = pre, None
                else:
                    text, _, err = extract_one(bytes(html) if html is not None else None)
                    acc["extract.docs"] += 1
                acc["extract.busy_s"] += time.perf_counter() - t0
                if err:
                    acc["extract.error_docs"] += 1
                    continue
                results = []
                for p in programs:
                    t0 = time.perf_counter()
                    r = run_document(text, p, doc_vars=doc_vars_for_url(url))
                    acc[f"workflow.interpret_s.{p.name}"] += time.perf_counter() - t0
                    acc[f"workflow.triples.{p.name}"] += len(r.triples)
                    acc[f"workflow.error_rows.{p.name}"] += r.error is not None
                    results.append(r)
                mine = results[:own]
                acc["run.candidate_triples"] += sum(
                    len(r.triples) for r in mine if r.error is None
                )
                b = check.best_index(mine)
                if b is not None:
                    acc["run.winner_triples"] += len(mine[b].triples)
        if acc:  # an empty frame cannot carry the schema through Arrow
            yield pd.DataFrame({"key": list(acc), "value": list(acc.values())})

    return run


def busy_probe(pages: DataFrame, programs, own: int) -> Dict[str, float]:
    rows = (
        pages.select("url", "html", "text")
        .mapInPandas(_busy_kernel(programs, own), "key string, value double")
        .groupBy("key")
        .sum("value")
        .collect()
    )
    return {r[0]: r[1] for r in rows}


# -- workloads -----------------------------------------------------------------


class Workload:
    name = ""
    input_kind = "pages"
    size = inputs.N_PAGES

    def __init__(self, work: Path, seed: int, cores: int) -> None:
        self.work = work
        self.seed = seed
        self.cores = cores
        self._runs = itertools.count()

    def prepare(self) -> dict:
        self.table, rows, meta = inputs.prepare(
            self.work / "inputs", self.input_kind, self.seed, self.size
        )
        self.docs = len(rows)
        self.sample = check.sample_rows(rows)
        self.sample_urls = [r[0] for r in self.sample]
        self.input_bytes = meta["bytes"]
        return meta

    def compile(self) -> list:
        return fixture_programs()

    def other_programs(self) -> list:
        """The other workflow set, run only by the busy probe so that every
        workflow's interpret time is measured on every workload."""
        return entry_programs()

    def expected_keys(self, programs) -> List[str]:
        return check.expected_keys(self.sample, programs)

    def kernel(self, pages: DataFrame, programs) -> DataFrame:
        """The one-pass kernel over these pages, as ``run.kernel_s`` times it."""
        return extract_and_run_workflows(pages, programs, select_best=True)

    def _workdir(self, kind: str) -> Path:
        return self.work / "cli" / f"{kind}-{os.getpid()}-{next(self._runs)}"

    def probe(self, spark, programs, tr, m, traced: Outcome) -> None:
        """Fill ``m`` with the per-layer metrics measured by direct calls.

        The pipeline, TTL and CLI numbers come from ``traced`` when the
        traced run made the CLI calls itself, else from one probe run of
        those calls on this workload's input.
        """
        pages = read_pages(spark, str(self.table))
        m["sources.scan_s"], _ = timed(tr, "sources.scan", lambda: _noop(pages))
        m["sources.rows"] = pages.count()
        m["sources.input_bytes"] = self.input_bytes
        m["sources.partitions"] = pages.rdd.getNumPartitions()
        m["extract.spark_s"], _ = timed(
            tr, "extract.extract_text", lambda: _noop(extract_text(pages))
        )
        m["run.kernel_s"], _ = timed(
            tr, "run.kernel", lambda: _noop(self.kernel(pages, programs))
        )
        _, busy = timed(
            tr, "workflow.busy_probe",
            lambda: busy_probe(pages, programs + self.other_programs(), len(programs)),
        )
        m.update(busy)
        winners, cands = m["run.winner_triples"], m["run.candidate_triples"]
        m["run.useful_triple_ratio"] = winners / cands if cands else 0.0
        own = m["extract.busy_s"] + sum(m[f"workflow.interpret_s.{p.name}"] for p in programs)
        m["run.overhead_s"] = m["run.kernel_s"] - own / self.cores

        ex = traced.extra
        if "fresh.pipeline_s" not in ex:
            wd = self._workdir("probe")
            _, _, ex, problems = fresh_and_resume(
                spark, self.table, self.input_bytes, programs, wd, tr, "probe.cli_fresh"
            )
            shutil.rmtree(wd, ignore_errors=True)
            if problems:
                raise RuntimeError("; ".join(problems))
        self._stage_sum(spark, pages, programs, m, tr)
        m.update(
            {
                "pipeline.fresh_s": ex["fresh.pipeline_s"],
                "pipeline.overhead_s": ex["fresh.pipeline_s"] - m["pipeline.stage_sum_s"],
                "pipeline.jobs": ex["fresh.jobs"],
                "pipeline.resume_jobs": ex["resume.jobs"],
                "pipeline.failed_tasks": ex["fresh.failed_tasks"] + ex["resume.failed_tasks"],
                "pipeline.write_amplification": ex["write_amplification"],
                "ttl.write_s": ex["fresh.ttl_s"],
                "ttl.lines": ex["ttl.lines"],
                "ttl.bytes": ex["ttl.bytes"],
                "cli.summary_s": ex["fresh.summary_s"],
                "cli.resume_s": ex["resume_s"],
                **{f"pipeline.bytes_written.{d}": ex[f"bytes.{d}"] for d in PIPELINE_DIRS},
            }
        )

    def _stage_sum(self, spark, pages, programs, m, tr) -> None:
        """The pipeline's four stage transforms run bare: no lineage, no
        completed-bucket filter, each written partitioned by bucket. The
        canonicalization probe then runs on the bare triples."""
        bare = self._workdir("bare")
        n = _cli_args(self.table, bare).buckets
        pipe = KgPipeline(spark, str(bare), programs, n_buckets=n)

        def stage(name, df):
            df.write.mode("overwrite").partitionBy("bucket").parquet(str(bare / name))
            return spark.read.parquet(str(bare / name))

        with tr.span("pipeline.stage_sum"):
            t0 = time.perf_counter()
            with tr.span("extract.stage"):
                extracted = stage(
                    "extract",
                    pipe.add_bucket(extract_text(pipe.add_bucket(pages).repartition(n, "bucket"))),
                )
            with tr.span("run.results_stage"):
                results = stage(
                    "results", pipe.add_bucket(run_workflows(extracted, programs, select_best=True))
                )
            with tr.span("run.triples_stage"):
                triples = stage("triples", pipe.add_bucket(explode_triples(results, winners_only=True)))
            with tr.span("canonicalize.stage"):
                stage(
                    "canonical",
                    canonicalize_triples(triples.drop("bucket")).withColumn(
                        "bucket", F.pmod(F.xxhash64("subj"), F.lit(n)).cast("int")
                    ),
                )
            m["pipeline.stage_sum_s"] = time.perf_counter() - t0
        self._canonicalize(triples.drop("bucket"), m, tr)
        shutil.rmtree(bare, ignore_errors=True)

    @staticmethod
    def _canonicalize(triples: DataFrame, m, tr) -> None:
        m["canonicalize.cc_s"], comps = timed(
            tr, "canonicalize.connected_components",
            lambda: connected_components(sameas_edges(triples)).localCheckpoint(eager=True),
        )
        m["canonicalize.edges"] = sameas_edges(triples).count()
        m["canonicalize.rewrite_s"], _ = timed(
            tr, "canonicalize.rewrite",
            lambda: _noop(canonicalize_triples(triples, components=comps)),
        )
        m["canonicalize.triples_in"] = triples.count()
        m["canonicalize.triples_out"] = canonicalize_triples(triples, components=comps).count()
        comps.unpersist()


class _KernelWorkload(Workload):
    """Pages -> one workflow kernel -> winner triples, consumed in full."""

    def run_once(self, spark, programs, tr) -> Outcome:
        with tr.span(f"workload.{self.name}"):
            t0 = time.perf_counter()
            with tr.span("sources.read_pages"):
                pages = read_pages(spark, str(self.table))
            with tr.span("run.kernel_plan"):
                ranked = self.kernel(pages, programs)
            with tr.span("run.explode_triples"):
                triples = explode_triples(ranked, winners_only=True)
            with tr.span("run.consume"):
                n, h, keys = check.fingerprint_and_sample(triples, self.sample_urls)
            wall = time.perf_counter() - t0
        return Outcome(wall, n, (n, h), keys)


class HtmlFused(_KernelWorkload):
    name = "html_fused"


class PretextDup(_KernelWorkload):
    name = "pretext_dup"
    input_kind = "pretext"
    size = inputs.PRETEXT_BASE

    def compile(self) -> list:
        return entry_programs()

    def other_programs(self) -> list:
        return fixture_programs()

    def kernel(self, pages, programs):
        return run_workflows(pages, programs, select_best=True)


class CliResumable(Workload):
    """The calls ``cli.main`` makes with ``--ttl-out`` and ``CLI_BUCKETS``
    buckets, its other defaults kept, into a fresh workdir, then the same
    calls again as a no-op resume."""

    name = "cli_resumable"
    size = inputs.N_CLI_PAGES

    def run_once(self, spark, programs, tr) -> Outcome:
        wd = self._workdir("wd")
        wall, fresh, ex, problems = fresh_and_resume(
            spark, self.table, self.input_bytes, programs, wd, tr, f"workload.{self.name}"
        )
        if fresh["docs"] != self.docs:
            problems.append(f"summary counts {fresh['docs']} docs, input has {self.docs}")
        winners = spark.read.parquet(str(wd / "triples"))
        keys = [
            r[0]
            for r in winners.filter(F.col("url").isin(self.sample_urls))
            .select(check.spark_key())
            .collect()
        ]
        n, h, _ = check.fingerprint_and_sample(spark.read.parquet(str(wd / "canonical")), [])
        if n != fresh["final_triples"]:
            problems.append(f"canonical table has {n} rows, summary says {fresh['final_triples']}")
        shutil.rmtree(wd, ignore_errors=True)
        return Outcome(wall, n, (n, h, tuple(fresh.values())), keys, ex, problems)


WORKLOADS = {w.name: w for w in (HtmlFused, CliResumable, PretextDup)}
