"""The staged, checkpointed, resumable KG-construction pipeline.

North_rule requirements implemented here:

* **explicit partitioning** — documents are assigned a stable bucket
  ``pmod(xxhash64(url), n_buckets)``; every stage processes and persists
  by bucket, so work units are deterministic across runs and clusters;
* **per-partition lineage** — each completed (stage, bucket) appends a
  lineage row (url range, row/triple counts, stage latency, status, ts);
* **idempotent resume** — on rerun, completed buckets are skipped by a
  ``bucket NOT IN (<done buckets>)`` filter on the stage input; outputs
  are written with dynamic partition overwrite, so a re-processed bucket
  replaces itself instead of duplicating.

One runner, ``_run_stage``, runs every stage: it buckets the stage's
output itself (by ``url``, or by ``subj`` for canonical), writes it and
appends the lineage. The global stage (canonical: sameAs components span
url-buckets) names an ``upstream`` stage: it is skipped while a done row
carries the upstream's current lineage token, and otherwise recomputed
whole from the upstream checkpoint with a static overwrite, so no bucket
of an earlier computation survives it.

Commit point: a stage's buckets count as done only once its single
``coalesce(1)`` lineage append (after the stage's data write) has
landed. A crash between the data write and that append leaves the
buckets undone, and the rerun overwrites them.

``run()`` reads this scope's done lineage once, with one collect, and
keeps the rows in memory; each append adds its rows to that list, so the
completed-bucket sets, the upstream fingerprint and the global-stage skip
check start no Spark jobs. Per stage, one ``groupBy`` over the buckets
written in this run (partition-pruned) yields the new lineage rows.

Storage is Parquet partitioned by ``bucket`` (Iceberg in production — the
layout and commit discipline are identical; swap the writer format).

At the 100 TB design point each stage boundary is a real checkpoint: a
failed run resumes from the last completed bucket set rather than
rescanning the corpus. Skew is visible per bucket through the REAL
per-bucket row/triple counts; ``latency_ms`` is the whole stage's wall
time (buckets execute concurrently inside one Spark job, so a true
per-bucket latency would require serializing them — per-task timing
lives in the Spark UI/event log, not here).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
import time
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.canonicalize import canonicalize_triples
from ..operators.columns import local_frame
from ..operators.extract import extract_text
from ..operators.run import explode_triples, run_workflows
from ..workflow.compile import WorkflowProgram

LINEAGE_SCHEMA = StructType(
    [
        StructField("run_scope", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("url_min", StringType(), True),
        StructField("url_max", StringType(), True),
        StructField("n_rows", LongType(), True),
        StructField("n_triples", LongType(), True),
        # wall time of the whole stage run that completed this bucket
        # (NOT per-bucket — buckets run concurrently in one job)
        StructField("latency_ms", LongType(), True),
        StructField("status", StringType(), False),
        StructField("ts", TimestampType(), False),
        # fingerprint of the upstream state a GLOBAL stage consumed; a
        # global stage's completion is only valid while this still matches
        StructField("input_token", StringType(), True),
    ]
)
_LineageRow = Row(*LINEAGE_SCHEMA.fieldNames())


class KgPipeline:
    """Orchestrates extract → workflows/best → triples → canonicalize.

    :param workdir: checkpoint root; one subdir per stage + lineage/.
    :param run_scope: identity of the logical run — reruns with the same
        scope RESUME (skip completed buckets); a new scope reprocesses.
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        programs: List[WorkflowProgram],
        run_scope: str = "run-0",
        n_buckets: int = 16,
        graphs: Optional[dict] = None,
        canonicalize: bool = True,
        extra_vars: Optional[dict] = None,
    ) -> None:
        self.spark = spark
        self.workdir = workdir
        self.programs = programs
        self.run_scope = run_scope
        self.n_buckets = n_buckets
        self.graphs = graphs
        self.canonicalize = canonicalize
        self.extra_vars = extra_vars
        # this scope's done lineage rows, read once per run() (see _load_done)
        self._done: List[Row] = []

    # -- lineage -----------------------------------------------------------

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.workdir, "lineage")

    def lineage(self) -> DataFrame:
        try:
            return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_path)
        except Exception:
            return local_frame(self.spark, [], LINEAGE_SCHEMA)

    def _load_done(self) -> None:
        """The run's one lineage read: this scope's done rows, in memory."""
        self._done = (
            self.lineage()
            .filter((F.col("run_scope") == self.run_scope) & (F.col("status") == "done"))
            .collect()
        )

    def _done_rows(self, stage: str) -> List[Row]:
        return [r for r in self._done if r.stage == stage]

    def _completed_buckets(self, stage: str) -> set:
        return {r.bucket for r in self._done_rows(stage)}

    def _append_lineage(
        self, stage: str, stats: list, latency_ms: int, token: Optional[str] = None
    ) -> None:
        """One 'done' lineage row per per-bucket ``stats`` row."""
        if not stats:
            return
        now = _dt.datetime.now(_dt.timezone.utc)
        rows = [
            _LineageRow(
                self.run_scope, stage, int(r.bucket), r.url_min, r.url_max,
                int(r.n_rows), int(r.n_triples), latency_ms, "done", now, token,
            )
            for r in stats
        ]
        df = local_frame(self.spark, rows, LINEAGE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.lineage_path)
        self._done.extend(rows)

    # -- stage plumbing ------------------------------------------------------

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._stage_path(stage))

    def _run_stage(
        self, stage: str, source: DataFrame, transform, key: str = "url",
        upstream: Optional[str] = None,
    ) -> DataFrame:
        """Run ``transform`` on the part of ``source`` still to do, bucket
        its output by ``key``, write it and append one lineage row per
        bucket written; return the whole stage read back. A bucketed stage's
        ``source`` carries ``bucket``; a global stage names its ``upstream``
        (see the module docstring).
        """
        token = self._upstream_token(upstream) if upstream else None
        if upstream and any(r.input_token == token for r in self._done_rows(stage)):
            return self._read_stage(stage)
        done = [] if upstream else list(self._completed_buckets(stage))
        todo = source.filter(~F.col("bucket").isin(done)) if done else source
        t0 = time.time()
        # Dynamic: only buckets present in the output are replaced, so done
        # buckets' files are untouched. Static: a recompute replaces the whole
        # stage, so a bucket it no longer fills keeps no old files.
        self.add_bucket(transform(todo), key).write.mode("overwrite").option(
            "partitionOverwriteMode", "static" if upstream else "dynamic"
        ).partitionBy("bucket").parquet(self._stage_path(stage))
        written = self._read_stage(stage)
        latency_ms = int((time.time() - t0) * 1000)
        # the buckets written in this run; the partition filter prunes the
        # scan to their directories
        new = written.filter(~F.col("bucket").isin(done)) if done else written
        stats = (
            new.groupBy("bucket")
            .agg(
                F.min(key).alias("url_min"),
                F.max(key).alias("url_max"),
                F.count(F.lit(1)).alias("n_rows"),
                (
                    F.sum("no_triples")
                    if "no_triples" in written.columns
                    else F.count(F.lit(1))
                ).alias("n_triples"),
            )
            .collect()
        )
        self._append_lineage(stage, stats, latency_ms, token)
        return written

    def _upstream_token(self, stage: str) -> str:
        """Fingerprint of an upstream stage's completed lineage state."""
        payload = ";".join(
            f"{b}:{n}:{t}"
            for b, n, t in sorted(
                (r.bucket, r.n_rows, r.n_triples) for r in self._done_rows(stage)
            )
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    # -- the pipeline ----------------------------------------------------------

    def add_bucket(self, df: DataFrame, key: str = "url") -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64(key), F.lit(self.n_buckets)).cast("int")
        )

    def run(self, pages: DataFrame) -> Dict[str, DataFrame]:
        """Execute all stages (resuming where lineage says 'done')."""
        self._load_done()
        # Stage 1: extraction (repartition by bucket → stable Arrow batches)
        extracted = self._run_stage(
            "extract",
            self.add_bucket(pages),
            lambda df: extract_text(df.repartition(self.n_buckets, "bucket")),
        )
        # Stage 2: workflows + best-workflow selection (is_best computed
        # inside the UDF — rows of one doc are task-local, so the top-1
        # needs no shuffle; see run_workflows(select_best=True))
        results = self._run_stage(
            "results",
            extracted,
            lambda df: run_workflows(
                df, self.programs, graphs=self.graphs, select_best=True,
                extra_vars=self.extra_vars,
            ),
        )
        # Stage 3: winner triples, flattened
        triples = self._run_stage(
            "triples", results, lambda df: explode_triples(df, winners_only=True)
        )
        out = {"extracted": extracted, "results": results, "triples": triples}
        # Stage 4: canonicalization — a GLOBAL stage (sameAs components span
        # url-buckets), bucketed by subject.
        if self.canonicalize:
            out["canonical"] = self._run_stage(
                "canonical",
                triples,
                lambda df: canonicalize_triples(df.drop("bucket")),
                "subj",
                upstream="triples",
            )
        return out
