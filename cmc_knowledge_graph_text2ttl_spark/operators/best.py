"""Stage 3 — best-workflow top-1 selection per document.

The reference runs every workflow on every document and keeps the result
with the best ``(no_triples, no_matches, total_match_len)`` — descending,
with Python's stable sort making the EARLIEST workflow win ties
(runner.py:402-407). The Spark form is a classic top-1 window:

    row_number() over (partition by url
                       order by no_triples desc, no_matches desc,
                                total_match_len desc, workflow_idx asc)

``workflow_idx asc`` encodes the stable-sort tie-break explicitly.

Scale note: this is ONE shuffle on url. Because stage 2 emits stats and
triples in the same row, the winner filter happens before the triples are
exploded — no stats⋈triples join exists anywhere in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def select_best_workflow(results: DataFrame) -> DataFrame:
    """Add ``is_best`` to the results table; every row stays.

    Errored (url, workflow) rows never win — the reference drops them from
    its candidate list entirely (runner.py:389-394).
    """
    # Errored rows sort last so a failing workflow never shadows a working
    # one (the reference removes them from the candidate list before the
    # sort, runner.py:389-394).
    w = Window.partitionBy("url").orderBy(
        F.asc(F.col("error").isNotNull()),
        F.desc("no_triples"),
        F.desc("no_matches"),
        F.desc("total_match_len"),
        F.asc("workflow_idx"),
    )
    return results.withColumn(
        "rn", F.row_number().over(w)
    ).withColumn(
        "is_best", (F.col("rn") == 1) & F.col("error").isNull()
    ).drop("rn")

