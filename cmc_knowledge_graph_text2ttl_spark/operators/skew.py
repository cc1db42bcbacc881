"""Skew handling: salted two-phase aggregation for holistic aggregates.

Algebraic aggregates (sum/count/min) are already skew-resistant — Spark
partial-aggregates map-side, so a hot key ships one partial per
partition. Holistic aggregates (collect_list/collect_set) are not: every
row of a hot key lands in ONE reducer's buffer, and at web scale a
boilerplate host or empty-page hash turns that into a straggler or an
OOM. AQE's skew-join splitting does not help — it applies to joins, not
aggregations.

The standard fix is salting: phase 1 groups on (key, salt) so a hot
key's rows spread over ``n_salts`` reducers with buffers of roughly
``values(key)/n_salts``; phase 2 merges the ``n_salts`` partial arrays
per key — a shuffle of pre-aggregated arrays, not rows. The output is
sorted per key so the result is deterministic regardless of salt
routing and partitioning (reference for the pattern: the salted
two-phase min in canonicalize.py's CC loop).

BOUNDS, honestly: exact ``collect_list`` semantics mean phase 2 must
materialize the hot key's ENTIRE value set in one reducer buffer —
salting bounds phase 1 only; the phase-2 buffer is ≈ the total values
of the hottest key. That is inherent to the exact answer. For truly
unbounded keys use :func:`salted_collect_topk`, whose phase-2 buffer
is capped at ``n_salts * k`` regardless of key heat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import md5_int

__all__ = ["salted_collect_list", "salted_collect_topk"]


def salted_collect_list(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """(key, values array) — equivalent to
    ``groupBy(key).agg(collect_list(value))`` + sort, with PHASE-1
    buffers spread over ``n_salts`` reducers (≈ values/n_salts each).
    Phase 2 still holds one full array per key (exact semantics — see
    the module docstring); for unbounded keys use
    :func:`salted_collect_topk`.

    The salt is md5-derived from the VALUE (not random): deterministic,
    so re-runs and retried tasks route identically. Each final array
    is sorted — the only way the output is engine- and
    partition-independent.
    """
    if n_salts < 1:
        raise ValueError("n_salts must be >= 1")
    # salt over the RENAMED column — value_col no longer exists after
    # the select (regression: only surfaced when value_col != "v");
    # md5_int is the canonical oracle-parity hash helper
    salt = md5_int(F.col("v").cast("string")) % n_salts
    partial = (
        df.select(F.col(key_col).alias("key"), F.col(value_col).alias("v"))
        .withColumn("_salt", salt)
        .groupBy("key", "_salt")
        .agg(F.collect_list("v").alias("vs"))
    )
    return partial.groupBy("key").agg(
        F.array_sort(F.flatten(F.collect_list("vs"))).alias("values")
    )


def salted_collect_topk(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int,
    n_salts: int = 16,
    ascending: bool = True,
) -> DataFrame:
    """(key, values array of the k smallest — or largest with
    ``ascending=False`` — values) with BOTH phases bounded: phase 1
    cuts each (key, salt) partial to its own top-k before it ships, so
    phase 2 merges at most ``n_salts * k`` values per key no matter how
    hot the key is. Equivalent to sorting the key's full value set and
    slicing k, by the top-k merge property (every globally-top value is
    in its salt's top-k). Deterministic: md5-derived salt, sorted
    output."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if n_salts < 1:
        raise ValueError("n_salts must be >= 1")
    salt = md5_int(F.col("v").cast("string")) % n_salts

    def topk(col):
        arr = F.array_sort(col)
        if not ascending:
            arr = F.reverse(arr)
        return F.slice(arr, 1, k)

    partial = (
        df.select(F.col(key_col).alias("key"), F.col(value_col).alias("v"))
        .withColumn("_salt", salt)
        .groupBy("key", "_salt")
        .agg(topk(F.collect_list("v")).alias("vs"))
    )
    return partial.groupBy("key").agg(
        topk(F.flatten(F.collect_list("vs"))).alias("values")
    )
