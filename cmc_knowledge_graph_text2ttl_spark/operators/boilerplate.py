"""Per-host boilerplate detection and removal (grouped ``applyInPandas``).

Common-Crawl-style corpora repeat navigation/footer markup on every page
of a host; regex workflows then extract the same "facts" from every page.
The classic fix is per-host: lines that appear on (almost) every page of
a host are boilerplate and get stripped before extraction.

This is the engine's grouped-imperative operator: ``groupBy(host)`` +
``applyInPandas`` — the per-group logic (line frequency across the
host's pages) has cross-row state that column functions can't express,
but it is local to a group, so Spark shuffles each host's pages to one
task and the Python kernel handles one host at a time.

Skew note: a hot host (50% of the corpus) makes one group huge. The
operator caps the evidence sample per host (``max_docs_per_group``):
boilerplate frequencies converge after a few hundred documents, so the
kernel decides from a bounded prefix and applies to all rows — group
size stays unbounded only in the cheap apply phase, never in state.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

CLEANED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), True),
        StructField("text", StringType(), True),
        StructField("n_boilerplate_lines", LongType(), True),
    ]
)


def _host_col():
    return F.regexp_extract("url", r"https?://([^/]+)/", 1)


def _boilerplate_lines(texts, min_frac: float, min_docs: int):
    """Lines present in >= min_frac of a host's docs (needs >= min_docs)."""
    if len(texts) < min_docs:
        return set()
    counts: Counter = Counter()
    for t in texts:
        if isinstance(t, str):
            counts.update(set(t.split("\n")))
    cutoff = max(min_frac * len(texts), 2)
    return {line for line, c in counts.items() if c >= cutoff and line.strip()}


def strip_host_boilerplate(
    pages: DataFrame,
    text_col: str = "text",
    min_frac: float = 0.8,
    min_docs: int = 5,
    max_docs_per_group: int = 500,
) -> DataFrame:
    """(url, text) → per-host boilerplate-stripped text.

    Lines occurring in >= ``min_frac`` of a host's documents (sampled up
    to ``max_docs_per_group`` for the frequency estimate) are removed
    from every document of that host. Hosts with < ``min_docs`` docs are
    passed through unchanged (not enough evidence).
    """

    def clean(pdf: pd.DataFrame) -> pd.DataFrame:
        texts = pdf[text_col].tolist()
        # Row order within an applyInPandas group is not deterministic
        # across runs/retries; sort by url before sampling so the evidence
        # prefix (and hence the stripped output) is byte-stable.
        sample = (
            pdf.sort_values("url", kind="mergesort")[text_col]
            .tolist()[:max_docs_per_group]
        )
        boiler = _boilerplate_lines(sample, min_frac, min_docs)
        out_texts = []
        for t in texts:
            if not isinstance(t, str) or not boiler:
                out_texts.append(t)
                continue
            out_texts.append(
                "\n".join(l for l in t.split("\n") if l not in boiler)
            )
        return pd.DataFrame(
            {
                "url": pdf["url"],
                "host": pdf["host"],
                "text": out_texts,
                "n_boilerplate_lines": [len(boiler)] * len(pdf),
            }
        )

    with_host = pages.select(
        "url", F.col(text_col).alias(text_col), _host_col().alias("host")
    )
    return with_host.groupBy("host").applyInPandas(clean, schema=CLEANED_SCHEMA)

