"""RSS/Atom feed parsing: the push-style discovery channel next to
sitemaps.

Feeds advertise NEW content with timestamps — the freshest input a
recrawl scheduler has. Same no-parser column-regex shape as
``sitemaps``: whole ``<item>``/``<entry>`` elements via
``regexp_extract_all``, per-element fields via a ``transform`` lambda,
XML entities unescaped. RSS items carry ``<link>text</link>``; Atom
entries carry ``<link href="..."/>`` (optionally with ``rel`` — the
first link is taken, which in practice is the alternate). Elements
without a resolvable link are dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .columns import html_string
from .sitemaps import _xml_unescape

__all__ = ["parse_feeds"]

_ITEM = r"(?is)<item[\s>].*?</item\s*>|<item\s*/\s*>"
_ENTRY = r"(?is)<entry[\s>].*?</entry\s*>"
_TITLE = r"(?is)<title[^>]*>\s*(.*?)\s*</title\s*>"
_RSS_LINK = r"(?is)<link\s*>\s*(.*?)\s*</link\s*>"
_ATOM_LINK = r"(?is)<link\b[^>]*\shref\s*=\s*[\"']([^\"'>]*)[\"']"
_RSS_DATE = r"(?is)<pubDate\s*>\s*(.*?)\s*</pubDate\s*>"
_ATOM_DATE = r"(?is)<(?:updated|published)\s*>\s*(.*?)\s*</(?:updated|published)\s*>"


def _elements(xml, pattern: str, kind: str, link_re: str, date_re: str):
    elts = F.regexp_extract_all(xml, F.lit(pattern), 0)
    return F.transform(
        elts,
        lambda e: F.struct(
            F.lit(kind).alias("kind"),
            F.nullif(
                _xml_unescape(F.regexp_extract(e, _TITLE, 1)), F.lit("")
            ).alias("title"),
            _xml_unescape(F.regexp_extract(e, link_re, 1)).alias("link"),
            F.nullif(F.regexp_extract(e, date_re, 1), F.lit("")).alias(
                "published"
            ),
        ),
    )


def parse_feeds(df: DataFrame) -> DataFrame:
    """(src, kind, title, link, published) per feed item of (feed_url,
    feed_xml) rows — ``kind`` is ``rss`` for ``<item>`` elements, ``atom``
    for ``<entry>``."""
    xml = html_string(df, "feed_xml")
    both = F.concat(
        _elements(xml, _ITEM, "rss", _RSS_LINK, _RSS_DATE),
        _elements(xml, _ENTRY, "atom", _ATOM_LINK, _ATOM_DATE),
    )
    return (
        df.select(F.col("feed_url").alias("src"), F.explode(both).alias("e"))
        .select(
            "src",
            F.col("e.kind").alias("kind"),
            F.col("e.title").alias("title"),
            F.col("e.link").alias("link"),
            F.col("e.published").alias("published"),
        )
        .where(F.length("link") > 0)
    )
