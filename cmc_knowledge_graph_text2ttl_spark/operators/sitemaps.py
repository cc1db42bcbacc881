"""Sitemap parsing: URL discovery from sitemap.xml documents.

The discovery side of the crawl loop: ``<urlset>`` entries become
candidate URLs with their advertised ``lastmod`` (the recrawl
scheduler's freshness hint), ``<sitemapindex>`` entries become further
sitemaps to fetch. Pure column expressions — whole ``<url>``/
``<sitemap>`` elements via ``regexp_extract_all``, per-element fields
via a ``transform`` lambda — the same no-parser shape as
``links.extract_links``. The XML subset handled is what sitemaps
actually contain (the protocol forbids fancy XML: no namespaces
prefixes on the core tags in practice, no CDATA in ``loc``); ``&amp;``
unescaping is applied to locations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .columns import html_string

__all__ = ["parse_sitemaps"]

_URL_ELT = r"(?is)<url\s*>.*?</url\s*>"
_SM_ELT = r"(?is)<sitemap\s*>.*?</sitemap\s*>"
_LOC = r"(?is)<loc\s*>\s*(.*?)\s*</loc\s*>"
_LASTMOD = r"(?is)<lastmod\s*>\s*(.*?)\s*</lastmod\s*>"


def _xml_unescape(col):
    """All five spec-mandated XML entity escapes, ampersand LAST so
    double-escapes like ``&amp;lt;`` resolve to the literal ``&lt;``."""
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&apos;", "'"), ("&amp;", "&"),
    ):
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def _entries(xml, pattern: str, kind: str):
    elts = F.regexp_extract_all(xml, F.lit(pattern), 0)
    return F.transform(
        elts,
        lambda e: F.struct(
            F.lit(kind).alias("kind"),
            _xml_unescape(F.regexp_extract(e, _LOC, 1)).alias("loc"),
            F.nullif(F.regexp_extract(e, _LASTMOD, 1), F.lit("")).alias(
                "lastmod"
            ),
        ),
    )


def parse_sitemaps(df: DataFrame) -> DataFrame:
    """(src, kind, loc, lastmod) per entry of (sitemap_url, sitemap_xml)
    rows: kind ``url`` for page entries, ``sitemap`` for index entries
    (feed those back into the fetch queue). Entries without a ``<loc>``
    are dropped."""
    xml = html_string(df, "sitemap_xml")
    both = F.concat(
        _entries(xml, _URL_ELT, "url"), _entries(xml, _SM_ELT, "sitemap")
    )
    return (
        df.select(F.col("sitemap_url").alias("src"), F.explode(both).alias("e"))
        .select(
            "src",
            F.col("e.kind").alias("kind"),
            F.col("e.loc").alias("loc"),
            F.col("e.lastmod").alias("lastmod"),
        )
        .where(F.length("loc") > 0)
    )
