"""SparkSession construction with engine defaults.

Settings chosen for the 100 TB design point (and harmless locally):

* AQE on (runtime coalescing, skew-join splitting for hot hosts /
  hot sameAs nodes),
* Arrow enabled with a bounded records-per-batch so a batch of page HTML
  stays ~64-128 MB in executor memory,
* shuffle partitions sized by the caller (tests pass 32; a real cluster
  would use ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kg-text2ttl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # zstd: ~30% smaller checkpoints than snappy at comparable speed —
        # at 100 TB the stage checkpoints dominate storage traffic
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # the default 100-entry generated-class cache thrashes under this
        # engine's query mix: one iterative graph loop (connected
        # components / PageRank — a NEW plan per iteration) evicts the
        # whole cache, and the next heavy operator (e.g. the 16-agg
        # minhash) then pays multi-second janino+JIT recompilation on
        # EVERY run — measured 2x wall on dedup_minhash. Static conf, so
        # it must be set here, before the session exists.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
