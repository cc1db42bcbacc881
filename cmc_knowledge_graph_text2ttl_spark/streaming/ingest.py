"""Structured Streaming ingest: the same KG pipeline over a pages stream.

The reference is strictly batch (one process per document list); the
engine's streaming mode reuses the identical kernels — the fused
extract+workflows+best stage is a stateless ``mapInPandas``, which
Structured Streaming runs per micro-batch unchanged:

* ``read_pages_stream`` — a file-source stream with the pages schema.
* ``stream_triples``    — pages stream → winner triples sink
  (append mode; exactly-once via the sink checkpoint).

In production the source is Kafka/Iceberg CDC; here the file source
with ``availableNow`` triggers exercises identical plans.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators.run import explode_triples, extract_and_run_workflows
from ..sources.pages import PAGES_SCHEMA
from ..workflow.compile import WorkflowProgram


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_triples(
    pages_stream: DataFrame,
    programs: List[WorkflowProgram],
    out_path: str,
    checkpoint: str,
    graphs: Optional[dict] = None,
    available_now: bool = True,
):
    """pages stream → winner triples parquet sink (append, exactly-once)."""
    ranked = extract_and_run_workflows(
        pages_stream, programs, graphs=graphs, select_best=True
    )
    triples = explode_triples(ranked, winners_only=True)
    writer = (
        triples.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

