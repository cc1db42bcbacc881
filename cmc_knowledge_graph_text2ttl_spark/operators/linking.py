"""Entity linking as whole-column DataFrame operators.

The reference's ``mapping``/``map`` ops are per-document dictionary
lookups inside the interpreter (processor.py:1992-2104). At corpus scale
the same dictionary becomes a *table*, and linking becomes relational:

* exact surface forms  → **broadcast hash join** (the dict half of the
  reference's mapping, processor.py:2084 — Catalyst broadcasts the small
  side, zero shuffle on the big side),
* ordered regex pairs  → a ``coalesce`` cascade of ``regexp_replace`` /
  ``regexp_extract`` column expressions, first-match-wins in definition
  order (processor.py:2095-2101),
* unmatched mentions   → identity (kept, flagged unlinked).

Dictionaries are ``(key, iri)`` pair lists, the rows of the FIXTURES.md
§4 TSV shapes: ``dictionary.tsv`` (surface_form \\t canonical_iri) and
``patterns.tsv`` (regex \\t canonical_iri_template, ordered).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .columns import local_frame


def link_exact(
    mentions: DataFrame,
    dictionary: List[Tuple[str, str]],
    mention_col: str = "mention",
    ignore_case: bool = True,
) -> DataFrame:
    """Exact dictionary linking via broadcast hash join.

    Adds ``canonical_iri`` (null when unlinked). With ``ignore_case`` the
    join key is lowercased on both sides AND the original-case entry wins
    over the lowercased copy — mirroring the reference's dict layout
    (original + lowercased keys, processor.py:2025-2027).
    """
    spark = mentions.sparkSession
    if ignore_case:
        entries = {}
        for surface, iri in dictionary:
            entries.setdefault(surface.lower(), iri)
        dict_rows = [(k, v) for k, v in entries.items()]
        key = F.lower(F.col(mention_col))
    else:
        dict_rows = dictionary
        key = F.col(mention_col)
    dict_df = local_frame(spark, dict_rows, "surface_form string, canonical_iri string")
    joined = mentions.withColumn("__key", key).join(
        F.broadcast(dict_df.withColumnRenamed("surface_form", "__key")),
        "__key",
        "left",
    )
    return joined.drop("__key")


def link_patterns(
    df: DataFrame,
    patterns: List[Tuple[str, str]],
) -> DataFrame:
    """Ordered regex-pair linking of ``mention`` as a first-match-wins
    coalesce cascade into ``canonical_iri`` (an existing non-null value wins).

    Each pair (regex, iri_template) matches anchored like the reference's
    ``re.match`` (processor.py:2097); ``$1``-style group refs in the
    template are supported via ``regexp_replace``. All JVM-side — the
    cascade compiles into one whole-stage-codegen projection.
    """
    cases = []
    m = F.col("mention")
    for pattern, template in patterns:
        anchored = pattern if pattern.startswith("^") else "^" + pattern
        hit = m.rlike(anchored)
        replaced = F.regexp_replace(m, anchored + "(?s:.*)$", template)
        cases.append(F.when(hit, replaced))
    existing = (
        F.col("canonical_iri") if "canonical_iri" in df.columns else F.lit(None).cast("string")
    )
    return df.withColumn("canonical_iri", F.coalesce(existing, *cases))


def link_mentions(
    mentions: DataFrame,
    dictionary: List[Tuple[str, str]],
    patterns: Optional[List[Tuple[str, str]]] = None,
) -> DataFrame:
    """Full linking of the ``mention`` column: case-insensitive exact
    broadcast join first, regex cascade on misses, identity (null
    canonical) otherwise — the reference's mapping application order
    (processor.py:2067-2104) as a distributed plan."""
    out = link_exact(mentions, dictionary)
    if patterns:
        out = link_patterns(out, patterns)
    return out.withColumn("linked", F.col("canonical_iri").isNotNull())


def embedding_link(
    docs: DataFrame,
    entities: DataFrame,
    threshold: Optional[float] = None,
) -> DataFrame:
    """(id, entity_id, cosine) — EMBEDDING-tier entity linking: each
    (doc_id, text) document links to the (entity_id, name) entity whose
    32-dimensional feature-hash embedding (traindata.embed_documents —
    md5 buckets, ±tf signs, all-integer) is most cosine-similar to the
    document's. The
    complement of the dictionary tier (link_exact / link_patterns):
    surface-form misses still land on the right entity when the
    surrounding vocabulary overlaps.

    Entity ids must be numeric: the top-1 per document is a map-side
    MAX over struct(cosine, -entity_id) — the same no-window trick as
    similarity.assign_cells, so the shuffle carries one row per doc,
    never the doc×entity cross product (a window partitioned by doc
    would shuffle all of it). The entity table is a broadcast
    dictionary by assumption (10^4-10^6 rows); for entity sets beyond
    broadcast range, route through similarity.ivf_topk instead.

    Determinism: integer-valued embedding dots are EXACT in doubles
    (every partial sum is an integer < 2^53, so accumulation order
    cannot matter); ties in the final float cosine break to the
    smallest entity_id. Zero-norm embeddings (sign-cancelled docs or
    entities) are excluded — cosine is undefined there.
    """
    from .traindata import embed_documents

    dim = 32
    de = embed_documents(docs, "text", "doc_id", dim)
    ee = embed_documents(entities, "name", "entity_id", dim)

    def norm(a):
        return F.sqrt(
            F.aggregate(
                a, F.lit(0.0),
                lambda acc, v: acc + v.cast("double") * v.cast("double"),
            )
        )

    # Hoist the per-ROW work out of the doc×entity loop: norms and the
    # int->double casts are O(N·dim) here but were O(N·E·dim) when
    # recomputed inside the cross-join expressions (three aggregate
    # folds per PAIR). And because ``dim`` is a constant, the
    # per-pair dot unrolls into a codegen'd left-associative Add chain —
    # the identical ((0+x0)+x1)+... fold order as the old
    # zip_with/aggregate, so every cosine is bit-identical, without the
    # interpreted higher-order-function machinery per pair (the dots are
    # integer-valued anyway: exact in doubles in any order).
    dprep = de.select(
        "id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vd"),
        norm(F.col("embedding")).alias("dn"),
    ).filter(F.col("dn") > 0)
    eprep = ee.select(
        F.col("id").alias("entity_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ve"),
        norm(F.col("embedding")).alias("en"),
    ).filter(F.col("en") > 0)
    dot_expr = F.lit(0.0)
    for i in range(dim):
        dot_expr = dot_expr + F.col("vd")[i] * F.col("ve")[i]
    cand = (
        dprep.crossJoin(F.broadcast(eprep))
        .withColumn("cosine", dot_expr / (F.col("dn") * F.col("en")))
    )
    best = (
        cand.groupBy("id")
        .agg(
            F.max(
                F.struct(
                    F.col("cosine"),
                    (-F.col("entity_id")).alias("neg_entity"),
                )
            ).alias("best")
        )
        .select(
            "id",
            (-F.col("best.neg_entity")).alias("entity_id"),
            F.col("best.cosine").alias("cosine"),
        )
    )
    if threshold is not None:
        best = best.filter(F.col("cosine") >= threshold)
    return best


def link_anchor_entities(
    links: DataFrame,
    dictionary: List[Tuple[str, str]],
    ignore_case: bool = True,
) -> DataFrame:
    """(dst, canonical_iri, n_links, n_anchors, top_anchor) — entity
    evidence for a TARGET page mined from the anchor texts other pages
    use for it (the classic KG-from-web-graph enrichment: anchors are
    crowd-sourced entity mentions, and they describe the target, not
    the source). Anchors are linked against the broadcast dictionary
    (same exact-tier semantics as :func:`link_exact`, lowercased key
    with original-case priority); unlinked anchors drop out.

    ``top_anchor`` is the most-linked surface form for that (target,
    entity), ties broken by the lexicographically LARGEST anchor via a
    max-struct — deterministic, partition-independent, one extra
    map-side aggregate (no window).

    Scale shape: one (dst, anchor) count agg (map-side combinable), a
    broadcast dictionary join, one (dst, iri) agg. Anchor text never
    exceeds the aggregate keys; page bodies are never touched.
    """
    per_anchor = (
        links.where(F.length("anchor") > 0)
        .groupBy("dst", "anchor")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    linked = link_exact(
        per_anchor, dictionary, mention_col="anchor", ignore_case=ignore_case
    ).where(F.col("canonical_iri").isNotNull())
    return (
        linked.groupBy("dst", "canonical_iri")
        .agg(
            F.sum("n").cast("bigint").alias("n_links"),
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
            F.max(F.struct(F.col("n"), F.col("anchor"))).alias("_top"),
        )
        .select(
            "dst",
            "canonical_iri",
            "n_links",
            "n_anchors",
            F.col("_top.anchor").alias("top_anchor"),
        )
    )
