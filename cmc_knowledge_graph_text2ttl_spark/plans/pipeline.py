"""The staged, checkpointed, resumable KG-construction pipeline.

North_rule requirements implemented here:

* **explicit partitioning** — documents are assigned a stable bucket
  ``pmod(xxhash64(url), n_buckets)``; every stage processes and persists
  by bucket, so work units are deterministic across runs and clusters;
* **per-partition lineage** — each completed (stage, bucket) appends a
  lineage row (url range, row/triple counts, stage latency, status, ts);
* **idempotent resume** — on rerun, completed buckets are skipped via an
  anti-join of the bucket list against the lineage table; outputs are
  written with dynamic partition overwrite, so a re-processed bucket
  replaces itself instead of duplicating.

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
import os
import time
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
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
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # -- lineage -----------------------------------------------------------

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.workdir, "lineage")

    def lineage(self) -> DataFrame:
        try:
            return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_path)
        except Exception:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)

    def _done_lineage(self, stage: str) -> DataFrame:
        """Lineage rows of this run scope that completed ``stage``."""
        return self.lineage().filter(
            (F.col("run_scope") == self.run_scope)
            & (F.col("stage") == stage)
            & (F.col("status") == "done")
        )

    def _completed_buckets(self, stage: str) -> set:
        rows = self._done_lineage(stage).select("bucket").collect()
        return {r.bucket for r in rows}

    def _append_lineage(
        self, stage: str, stats: list, latency_ms: int, token: Optional[str] = None
    ) -> None:
        """One 'done' lineage row per per-bucket ``stats`` row."""
        if not stats:
            return
        now = _dt.datetime.now()
        rows = [
            (
                self.run_scope, stage, int(r.bucket), r.url_min, r.url_max,
                int(r.n_rows), int(r.n_triples), latency_ms, "done", now, token,
            )
            for r in stats
        ]
        df = self.spark.createDataFrame(rows, LINEAGE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.lineage_path)

    # -- stage plumbing ------------------------------------------------------

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._stage_path(stage))

    def _run_stage(self, stage: str, source: DataFrame, transform) -> DataFrame:
        """Process only not-yet-completed buckets; append lineage.

        ``source`` must carry a ``bucket`` column. Returns the stage's full
        output (all buckets) read back from the checkpoint.
        """
        done = self._completed_buckets(stage)
        todo = source.filter(~F.col("bucket").isin(list(done))) if done else source
        t0 = time.time()
        out = transform(todo)
        # Dynamic partition overwrite: only buckets present in `out` are
        # replaced; completed buckets' files are untouched → idempotent.
        out.write.mode("overwrite").partitionBy("bucket").parquet(self._stage_path(stage))
        written = self.spark.read.parquet(self._stage_path(stage))
        todo_buckets = (
            {r.bucket for r in written.select("bucket").distinct().collect()} - done
        )
        latency_ms = int((time.time() - t0) * 1000)
        stats = (
            written.filter(F.col("bucket").isin(list(todo_buckets)))
            .groupBy("bucket")
            .agg(
                F.min("url").alias("url_min") if "url" in written.columns else F.min(F.lit(None).cast("string")).alias("url_min"),
                F.max("url").alias("url_max") if "url" in written.columns else F.max(F.lit(None).cast("string")).alias("url_max"),
                F.count(F.lit(1)).alias("n_rows"),
                (
                    F.sum("no_triples")
                    if "no_triples" in written.columns
                    else F.count(F.lit(1))
                ).alias("n_triples"),
            )
            .collect()
            if todo_buckets
            else []
        )
        self._append_lineage(stage, stats, latency_ms)
        return written

    def _upstream_token(self, stage: str) -> str:
        """Fingerprint of an upstream stage's completed lineage state."""
        import hashlib

        rows = (
            self._done_lineage(stage).select("bucket", "n_rows", "n_triples").collect()
        )
        payload = ";".join(
            f"{r.bucket}:{r.n_rows}:{r.n_triples}" for r in sorted(rows)
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    # -- the pipeline ----------------------------------------------------------

    def add_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int")
        )

    def run(self, pages: DataFrame) -> Dict[str, DataFrame]:
        """Execute all stages (resuming where lineage says 'done')."""
        bucketed = self.add_bucket(pages)
        # Stage 1: extraction (repartition by bucket → stable Arrow batches)
        extracted = self._run_stage(
            "extract",
            bucketed,
            lambda df: self.add_bucket(
                extract_text(df.repartition(self.n_buckets, "bucket"))
            ),
        )
        # Stage 2: workflows + best-workflow selection (is_best computed
        # inside the UDF — rows of one doc are task-local, so the top-1
        # needs no shuffle; see run_workflows(select_best=True))
        results = self._run_stage(
            "results",
            extracted,
            lambda df: self.add_bucket(
                run_workflows(
                    df, self.programs, graphs=self.graphs, select_best=True,
                    extra_vars=self.extra_vars,
                )
            ),
        )
        # Stage 3: winner triples, flattened
        triples = self._run_stage(
            "triples",
            results,
            lambda df: self.add_bucket(explode_triples(df, winners_only=True)),
        )
        out = {"extracted": extracted, "results": results, "triples": triples}
        # Stage 4: canonicalization — a GLOBAL stage (sameAs components span
        # url-buckets), so resume is all-or-nothing: done lineage for this
        # run_scope means skip; otherwise recompute from the full triples
        # checkpoint. Output is re-bucketed by subject hash.
        if self.canonicalize:
            out["canonical"] = self._run_global_stage(
                "canonical",
                triples,
                lambda df: canonicalize_triples(df.drop("bucket")).withColumn(
                    "bucket",
                    F.pmod(F.xxhash64("subj"), F.lit(self.n_buckets)).cast("int"),
                ),
                upstream="triples",
            )
        return out

    def _run_global_stage(
        self, stage: str, source: DataFrame, transform, upstream: str
    ) -> DataFrame:
        token = self._upstream_token(upstream)
        prior = (
            self._done_lineage(stage).filter(F.col("input_token") == token).count()
        )
        if prior > 0:
            return self._read_stage(stage)
        t0 = time.time()
        transform(source).write.mode("overwrite").partitionBy("bucket").parquet(
            self._stage_path(stage)
        )
        written = self.spark.read.parquet(self._stage_path(stage))
        latency_ms = int((time.time() - t0) * 1000)
        stats = (
            written.groupBy("bucket")
            .agg(
                F.min("subj").alias("url_min"),
                F.max("subj").alias("url_max"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.lit(1)).alias("n_triples"),
            )
            .collect()
        )
        self._append_lineage(stage, stats, latency_ms, token)
        return written
