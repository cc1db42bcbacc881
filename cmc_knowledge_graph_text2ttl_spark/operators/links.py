"""Web link-graph operators: href extraction and integer-scaled
PageRank.

The reference stops at per-document extraction; a corpus engine also
needs the cross-document link structure — the classic inputs to crawl
prioritization and document-quality ranking. Link extraction is pure
column expressions (regex over the raw HTML, no parser, no UDF);
PageRank is the second iterative graph operator next to
``canonicalize.connected_components`` and follows the same scale rules:
per-iteration shuffles keyed on the node id, lineage truncated with
localCheckpoint, never a driver-side adjacency structure.

All PageRank arithmetic is integer (rank `div` out-degree per edge,
``(damping_pct * sum) div 100`` per node), so results are bit-identical
across engines and partitionings — the same trade the rest of the
engine makes (see CLAUDE.md hashing rules). The integer floor drops a
little rank mass per hop (documented, deterministic) — fine for
ranking, where only the order matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .columns import html_string

__all__ = ["extract_links", "pagerank", "anchor_summaries"]

# full anchor elements; href value then inner text pulled per element
_A_TAG = r'(?is)<a\s[^>]*href="[^"]*"[^>]*>.*?</a>'
_HREF = r'(?is)href="([^"]*)"'
_INNER = r"(?is)>(.*)</a"
_BASE_HREF = r'(?is)<base\s[^>]*href="([^"]*)"'


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    resolve_relative: bool = True,
) -> DataFrame:
    """(src, dst, anchor) for every ``<a href="...">`` element →
    one row per link.

    Pure column expressions: `regexp_extract_all` pulls whole anchor
    elements, a `transform` lambda pulls the href and inner text per
    element, inner markup is stripped and the anchor trimmed.

    Relative hrefs — the MAJORITY of intra-site links in a real crawl —
    are resolved against the page's effective base per RFC 3986
    (``urls.resolve_url_col``): the first ``<base href>`` wins and is
    itself resolved against the document URL per the HTML spec, so the
    link graph / PageRank / anchor signals see site structure, not just
    absolute cross-site links. Empty and fragment-only hrefs are
    dropped (same-document references, not edges); fragments are
    stripped from resolved targets. Only http(s) results survive, which
    also drops ``mailto:`` / ``javascript:`` / ``data:`` refs because a
    scheme-bearing ref resolves to itself. ``resolve_relative=False``
    restores the round-3 absolute-only behavior.
    Double-quoted hrefs only, matching the crawl corpus; tags are
    case-insensitive.
    """
    from .urls import resolve_url_col

    html = html_string(df, html_col)
    tags = F.regexp_extract_all(html, F.lit(_A_TAG), 0)
    pairs = F.transform(
        tags,
        lambda t: F.struct(
            F.regexp_extract(t, _HREF, 1).alias("dst"),
            F.trim(
                F.regexp_replace(F.regexp_extract(t, _INNER, 1), "<[^>]*>", "")
            ).alias("anchor"),
        ),
    )
    src = F.col(url_col)
    if resolve_relative:
        base_href = F.nullif(
            F.regexp_extract(html, _BASE_HREF, 1), F.lit("")
        )
        eff_base = F.when(
            base_href.isNotNull(), resolve_url_col(src, base_href)
        ).otherwise(src)
        exploded = df.select(
            src.alias("src"),
            eff_base.alias("_base"),
            F.explode(pairs).alias("l"),
        ).where(~F.col("l.dst").rlike(r"^(#|$)"))
        dst = F.regexp_replace(
            resolve_url_col(F.col("_base"), F.col("l.dst")), r"(?s)#.*$", ""
        )
    else:
        exploded = df.select(src.alias("src"), F.explode(pairs).alias("l"))
        dst = F.col("l.dst")
    return (
        exploded.select(
            "src", dst.alias("dst"), F.col("l.anchor").alias("anchor")
        )
        .where(F.col("dst").startswith("http"))
    )


def anchor_summaries(links: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` anchor texts per link target →
    (dst, anchor, n_links, n_sources, rank_in_dst).

    Anchor text is the classic off-page relevance signal: what OTHER
    pages call a document. One aggregation keyed on (dst, anchor) with
    map-side combine, then a per-dst window bounded by each target's
    distinct-anchor count — ties broken by anchor so the cut is
    deterministic. Empty anchors are dropped (self-evidently useless as
    descriptions).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    agg = (
        links.where(F.length("anchor") > 0)
        .groupBy("dst", "anchor")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_links"),
            F.countDistinct("src").cast("bigint").alias("n_sources"),
        )
    )
    w = Window.partitionBy("dst").orderBy(
        F.col("n_links").desc(), F.col("anchor").asc()
    )
    return (
        agg.withColumn("rank_in_dst", F.row_number().over(w).cast("int"))
        .where(F.col("rank_in_dst") <= k)
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    scale: int = 1_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Integer-scaled PageRank over an edge list (src, dst) → (node, rank).

    rank₀ = ``scale`` for every node; each iteration
    ``rank'(v) = ((100 - damping_pct) * scale) div 100 +
    (damping_pct * Σ_{u→v} (rank(u) div outdeg(u))) div 100``.
    Dangling-node mass is dropped (deterministic, documented) — the
    usual redistribution term needs a global scalar per iteration and
    buys nothing for ranking order.

    Scale shape: the per-iteration plan is one join keyed on the edge
    source (broadcastable out-degree side when small), one aggregation
    keyed on the destination, and a left join back onto the node set —
    all map-side-combinable shuffles on node ids. ``localCheckpoint``
    per iteration truncates the lineage exactly like the CC loop
    (canonicalize.py), so 10 iterations at 10^12 edges never rebuilds a
    10-deep plan.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    e = edges.select("src", "dst")
    # nodes is re-read in EVERY iteration's left join — checkpoint it
    # too, or each of the 10 rank plans re-runs the union+distinct
    # shuffle over the full edge list
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e_deg = e.join(outdeg, "src").localCheckpoint(eager=True)
    teleport = (100 - damping_pct) * scale // 100
    ranks = nodes.withColumn("rank", F.lit(scale).cast("bigint"))
    for _ in range(iterations):
        contribs = (
            e_deg.join(ranks, e_deg.src == ranks.node)
            .select(F.col("dst").alias("node"), F.expr("rank div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.coalesce(
                        F.expr(f"({damping_pct} * c) div 100"), F.lit(0)
                    )
                ).cast("bigint").alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """Integer-scaled HITS (Kleinberg 1999) → (node, hub, authority) —
    the second link-analysis operator beside :func:`pagerank`, for
    crawl prioritization where hub quality matters (directories, link
    farms) separately from authority.

    With scale = 10⁶, hub₀ = scale for every node; each iteration runs
    the two standard half-steps with MAX-normalization in pure integer
    arithmetic (an L2 norm would need cross-engine sqrt rounding):

        auth(v) = Σ_{u→v} hub(u);  auth ← auth div max(1, max(auth) div scale)
        hub(u)  = Σ_{u→v} auth(v); hub  ← hub  div max(1, max(hub)  div scale)

    The divide-by-(max div scale) form — rather than multiply-then-
    divide — keeps every intermediate ≤ max_degree·scale, so int64
    never overflows for degrees up to ~9·10¹². Nodes without in-links
    have authority 0, without out-links hub 0; bit-exact across
    engines and partitionings.

    Scale shape: per half-step ONE node-keyed join + ONE map-side-
    combinable sum + one scalar max (broadcast crossJoin) + the left
    join back onto the checkpointed node set; ``localCheckpoint`` per
    iteration truncates lineage exactly like pagerank and the CC loop.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = e.localCheckpoint(eager=True)

    def half_step(scores: DataFrame, key: str, other: str) -> DataFrame:
        """Sum `scores` over edges keyed on `key`, grouped by `other`,
        then max-normalize; returns (node, s) covering ALL nodes."""
        raw = (
            e.join(scores, e[key] == scores.node)
            .select(F.col(other).alias("node"), F.col("s"))
            .groupBy("node")
            .agg(F.sum("s").alias("raw"))
        )
        denom = raw.agg(
            F.greatest(
                F.lit(1).cast("bigint"),
                F.expr("max(raw) div 1000000"),
            ).alias("d")
        )
        return (
            nodes.join(
                raw.crossJoin(F.broadcast(denom)).select(
                    "node", F.expr("raw div d").alias("s")
                ),
                "node",
                "left",
            )
            .select("node", F.coalesce("s", F.lit(0)).cast("bigint").alias("s"))
        )

    hubs = nodes.withColumn("s", F.lit(1_000_000).cast("bigint"))
    auth = None
    for _ in range(iterations):
        auth = half_step(hubs, "src", "dst").localCheckpoint(eager=True)
        hubs = half_step(auth, "dst", "src").localCheckpoint(eager=True)
    return (
        hubs.withColumnRenamed("s", "hub")
        .join(auth.withColumnRenamed("s", "authority"), "node")
        .select("node", "hub", "authority")
    )


def host_graph(edges: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links, n_src_pages, is_internal) — the
    page-level (src, dst) link graph collapsed to host level: the domain graph
    used for host authority (PageRank/HITS over it), spam-farm
    detection (high internal/external ratios) and crawl budgeting.

    ``n_links`` counts page-level edges between the host pair;
    ``n_src_pages`` counts distinct linking pages (a 10^6-link footer
    farm from one page stays distinguishable from organic linking);
    ``is_internal`` marks same-host edges.

    Scale shape: one groupBy on the (src_host, dst_host) pair —
    map-side combinable for the count, one distinct-expand for the
    page count; host extraction is the same pure column expression the
    URL operators use (no UDF). Degree-skewed hosts (everyone links
    google.com) are exactly the AQE skew-split case.
    """
    from .urls import host_col

    return (
        edges.select(
            host_col(F.col("src")).alias("src_host"),
            host_col(F.col("dst")).alias("dst_host"),
            F.col("src").alias("_src"),
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("_src").alias("n_src_pages"),
        )
        .select(
            "src_host",
            "dst_host",
            F.col("n_links").cast("long").alias("n_links"),
            F.col("n_src_pages").cast("long").alias("n_src_pages"),
            (F.col("src_host") == F.col("dst_host")).alias("is_internal"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """(node, label) — synchronous label propagation communities over
    the UNDIRECTED link graph (Raghavan et al. 2007, made
    deterministic): every node starts as its own label; each iteration
    every node adopts the most frequent label among its neighbours,
    ties broken by the SMALLEST label, isolated nodes keep their own.
    Synchronous updates + min tie-break make the result a pure
    function of the graph — no seed, no visit order, no partitioning
    dependence (the classic async/random-tie LPA is none of those).

    Scale shape: per iteration ONE join keyed on the edge endpoint,
    one (node, label) count agg (map-side combinable) and one per-node
    argmax window (keys are single nodes — balanced); localCheckpoint
    truncates lineage per iteration exactly like the CC/PageRank
    loops. Fixed iteration count is the honest contract at 10^12
    edges — convergence detection would add a count() barrier per
    round for no ranking benefit.
    """
    from pyspark.sql import Window

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    src, dst = F.col(src_col), F.col(dst_col)
    dir_e = edges.select(src.alias("a"), dst.alias("b"))
    und = dir_e.union(
        dir_e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=True)
    nodes = und.select(F.col("a").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    labels = nodes.withColumn("label", F.col("node"))
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label")
    )
    for _ in range(iterations):
        neigh = (
            und.join(labels, und.b == labels.node)
            .select(F.col("a").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = (
            neigh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("label").cast("bigint").alias("label"))
