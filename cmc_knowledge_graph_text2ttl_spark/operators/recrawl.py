"""Recrawl operators: generation deltas and polite fetch scheduling.

A production crawl is incremental: each generation is diffed against
the last to decide what changed (re-extract), what vanished (tombstone
the triples), and what is new — and the next fetch round is scheduled
politely, a bounded batch per host at a time. Both are pure DataFrame
ops: the delta is one full-outer join on the URL with digest
comparison; batching is a per-host window over an md5-derived order
(deterministic — no crawl-order bias, no random seed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import md5_int

__all__ = ["crawl_delta", "fetch_batches", "crawl_frontier", "change_rates",
           "polite_schedule"]


def crawl_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """(url, status) across two (url, content) crawl generations: ``new``
    (absent before), ``gone`` (absent now), ``unchanged`` / ``changed``
    by content digest.

    One full-outer join keyed on the URL; contents never ship through
    the shuffle — each side is reduced to (url, md5) first, so the
    join payload is 32 bytes per row regardless of page size. Re-crawl
    pipelines feed ``changed`` + ``new`` into extraction and ``gone``
    into triple tombstoning.
    """
    # presence is tracked SEPARATELY from the digest: md5(NULL) is NULL,
    # so keying 'new'/'gone' off digest nullability would misclassify a
    # URL whose fetch produced NULL content (failed fetch) as absent —
    # and a recrawl pipeline would wrongly tombstone a live URL
    o = old.select(
        "url",
        F.md5(F.col("content").cast("binary")).alias("_old"),
        F.lit(True).alias("_has_old"),
    )
    n = new.select(
        "url",
        F.md5(F.col("content").cast("binary")).alias("_new"),
        F.lit(True).alias("_has_new"),
    )
    j = o.join(n, "url", "full_outer")
    status = (
        F.when(F.col("_has_old").isNull(), "new")
        .when(F.col("_has_new").isNull(), "gone")
        .when(F.col("_old").eqNullSafe(F.col("_new")), "unchanged")
        .otherwise("changed")
    )
    return j.select("url", status.alias("status"))


def fetch_batches(urls: DataFrame, batch_size: int) -> DataFrame:
    """Polite fetch schedule of (url, host) rows → (url, host, batch_id,
    pos_in_batch): each host's URLs are split into batches of at most
    ``batch_size``, ordered by the md5 of the URL (uniform, seed-free,
    stable across runs and partitionings — a crawl-order sort would bias
    every batch toward old pages).

    One shuffle (the per-host window); batch ``b`` of every host can be
    fetched concurrently while respecting per-host concurrency 1.
    """
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    w = Window.partitionBy("host").orderBy(md5_int(F.col("url")), F.col("url"))
    rn = F.row_number().over(w) - 1
    return urls.select(
        "url",
        "host",
        (rn / batch_size).cast("int").alias("batch_id"),
        (rn % batch_size).cast("int").alias("pos_in_batch"),
    )


def crawl_frontier(
    delta: DataFrame,
    ranks: DataFrame,
    url_col: str = "url",
    default_rank: int = 1_000_000,
    weights: dict | None = None,
) -> DataFrame:
    """(url, status, rank, priority) — the prioritized recrawl
    frontier: :func:`crawl_delta` statuses weighted by link-graph
    importance (:func:`~.links.pagerank` ranks joined by URL).

    ``priority = weight(status) * rank`` — integer arithmetic only.
    URLs absent from the rank table (frontier growth: 'new' pages were
    never crawled, so never ranked) fall back to ``default_rank``, the
    PageRank initial mass, so fresh discoveries compete at par rather
    than at zero. Statuses without a weight entry ('gone' by default)
    drop out of the frontier — tombstoning is a different pipeline.

    Scale shape: one key join between two digest-thin tables (the
    delta side is (url, status), the rank side (url, rank)); the
    downstream consumer is :func:`fetch_batches` for the polite
    per-host schedule. No windows, no collects.
    """
    if weights is None:
        weights = {"new": 3, "changed": 2, "unchanged": 1}
    if not weights:
        raise ValueError("weights must have at least one status entry")
    w: Column = F.lit(None).cast("bigint")
    for status, mult in sorted(weights.items()):
        w = F.when(F.col("status") == status, F.lit(int(mult))).otherwise(w)
    r = ranks.select(F.col(url_col).alias("url"), F.col("rank").alias("_rank"))
    rank = F.coalesce(F.col("_rank"), F.lit(default_rank)).cast("bigint")
    return (
        delta.select("url", "status", w.alias("_w"))
        .filter(F.col("_w").isNotNull())
        .join(r, "url", "left")
        .select(
            "url",
            "status",
            rank.alias("rank"),
            (F.col("_w") * rank).cast("bigint").alias("priority"),
        )
    )


def change_rates(
    history: DataFrame,
    url_col: str = "url",
    gen_col: str = "gen",
    digest_col: str = "digest",
    hot_pct: int = 50,
    warm_pct: int = 10,
) -> DataFrame:
    """(url, n_gens, n_changes, change_rate_pct, crawl_bucket) —
    per-URL content change estimation across crawl generations (the
    Cho & Garcia-Molina recrawl-scheduling signal): a change is an
    adjacent-generation digest transition, the rate is
    ``n_changes·100 div (n_gens - 1)`` (integer floor; 0 for
    single-generation URLs), and ``crawl_bucket`` is the scheduling
    tier ('hot' ≥ hot_pct, 'warm' ≥ warm_pct, else 'cold') a frontier
    uses to pick revisit intervals.

    Scale shape: input is digest-thin (url, gen, digest) — page bodies
    never enter; ONE per-url window (lag over generation order, keys
    are single URLs so partitions stay balanced) and ONE per-url agg.
    """
    if not 0 <= warm_pct <= hot_pct <= 100:
        raise ValueError("need 0 <= warm_pct <= hot_pct <= 100")
    # digest tie-break: duplicate generation numbers (a re-fetch logged
    # twice) would otherwise make the lag order — and the rate —
    # nondeterministic across partitionings
    w = Window.partitionBy("url").orderBy("gen", "digest")
    prev = F.lag(F.col("digest")).over(w)
    rows = history.select(
        F.col(url_col).alias("url"),
        F.col(gen_col).alias("gen"),
        F.col(digest_col).alias("digest"),
    ).select(
        "url",
        F.when(
            prev.isNotNull() & (F.col("digest") != prev), F.lit(1)
        ).otherwise(F.lit(0)).alias("chg"),
    )
    agg = rows.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_gens"),
        F.sum("chg").alias("n_changes"),
    )
    rate = F.when(
        F.col("n_gens") > 1,
        F.expr("(n_changes * 100) DIV (n_gens - 1)"),
    ).otherwise(F.lit(0))
    return agg.select(
        "url",
        F.col("n_gens").cast("int").alias("n_gens"),
        F.col("n_changes").cast("int").alias("n_changes"),
        rate.cast("int").alias("change_rate_pct"),
    ).select(
        "url",
        "n_gens",
        "n_changes",
        "change_rate_pct",
        F.when(F.col("change_rate_pct") >= hot_pct, F.lit("hot"))
        .when(F.col("change_rate_pct") >= warm_pct, F.lit("warm"))
        .otherwise(F.lit("cold"))
        .alias("crawl_bucket"),
    )


def polite_schedule(
    urls: DataFrame,
    batch_size: int,
    delays: DataFrame,
    default_ms: int = 1000,
) -> DataFrame:
    """(url, host, batch_id, pos_in_batch, delay_ms, not_before_ms) —
    :func:`fetch_batches` joined with the per-host Crawl-delay
    dimension (:func:`~.robots.crawl_delays`): batch ``b`` of a host
    may start no earlier than ``b · delay_ms`` into the crawl round,
    which is exactly the "one fetch per delay per host" contract when
    batch_size=1 and a bounded-burst relaxation otherwise.

    The delay table is a dimension join (broadcast under AQE); hosts
    absent from it fall back to ``default_ms``."""
    b = fetch_batches(urls, batch_size)
    d = delays.select(
        F.col("host"), F.col("delay_ms").cast("long").alias("_delay")
    )
    delay = F.coalesce(F.col("_delay"), F.lit(default_ms)).cast("long")
    return b.join(d, "host", "left").select(
        "url",
        "host",
        "batch_id",
        "pos_in_batch",
        delay.alias("delay_ms"),
        (F.col("batch_id") * delay).cast("long").alias("not_before_ms"),
    )
