"""Page-level HTML metadata: the head-section signals an index or
curation pipeline reads before any content analysis.

(title, meta description, canonical URL, robots-meta noindex/nofollow,
declared language) — all pure column regexes over the raw HTML.
Real-HTML tolerances, each regression-tested:

* attribute ORDER is not fixed (``name=.. content=..`` vs reversed) —
  both orders extract and coalesce;
* quoted values close with the SAME quote that opened them
  (a backreference), so apostrophes inside double-quoted descriptions
  survive — and the value class is quote-negated, not '>'-negated, so
  legal values containing '>' (``content="a > b"``) extract too;
* unquoted attribute values (valid HTML5, common in minified pages)
  are matched too;
* attribute names require a whitespace boundary, so ``data-name=`` /
  ``xml:lang=`` / ``<metadata`` never satisfy a ``name=`` / ``lang=`` /
  ``<meta`` match;
* the robots ``none`` directive implies noindex+nofollow per the spec.

The canonical URL pairs with ``urls.canonicalize_urls`` for dedup-by-
canonical; ``noindex`` pairs with ``robots.robots_allowed`` for the
compliance verdict (robots META is page-level, robots.txt host-level —
a compliant pipeline honors both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .columns import html_string

__all__ = ["extract_page_meta", "extract_og_meta"]

# unquoted attribute values run to whitespace/quote/'>'
_UVAL = r"([^\s\"'>]+)"


def _qval(quote_backref: int) -> str:
    """A quoted attribute VALUE: everything up to the quote that opened
    it (group ``quote_backref``). A per-char negated lookahead rather
    than ``[^>]`` so legal values containing '>' (content="a > b")
    extract instead of silently missing; cross-tag pairing stays
    impossible because the inter-attribute gaps are still ``[^>]*``."""
    return rf"((?:(?!\{quote_backref}).)*?)"


def _mv(match_val: str, backref: int) -> str:
    """The matched attribute's value: quoted (closing with its own
    opening quote, whose group number is ``backref``) or unquoted."""
    return rf"(?:([\"']){match_val}\{backref}|{match_val}(?=[\s>]))"


def _attr_pair(tag: str, match_attr: str, match_val: str, want_attr: str) -> list:
    """(pattern, value-group) pairs for
    ``<tag ... match_attr=match_val ... want_attr=VALUE>`` in BOTH
    attribute orders, quoted and unquoted forms."""
    return [
        # forward, quoted value (1=mv quote, 2=value quote, 3=value)
        (
            rf"(?is)<{tag}\b[^>]*\s{match_attr}\s*=\s*{_mv(match_val, 1)}"
            rf"[^>]*\s{want_attr}\s*=\s*([\"']){_qval(2)}\2",
            3,
        ),
        # forward, unquoted value (1=mv quote, 2=value)
        (
            rf"(?is)<{tag}\b[^>]*\s{match_attr}\s*=\s*{_mv(match_val, 1)}"
            rf"[^>]*\s{want_attr}\s*=\s*{_UVAL}",
            2,
        ),
        # reversed, quoted value (1=value quote, 2=value, 3=mv quote)
        (
            rf"(?is)<{tag}\b[^>]*\s{want_attr}\s*=\s*([\"']){_qval(1)}\1"
            rf"[^>]*\s{match_attr}\s*=\s*{_mv(match_val, 3)}",
            2,
        ),
        # reversed, unquoted value (1=value, 2=mv quote)
        (
            rf"(?is)<{tag}\b[^>]*\s{want_attr}\s*=\s*{_UVAL}"
            rf"[^>]*\s{match_attr}\s*=\s*{_mv(match_val, 2)}",
            1,
        ),
    ]


def _first(html, patterns: list):
    return F.coalesce(
        *[
            F.nullif(F.regexp_extract(html, p, g), F.lit(""))
            for p, g in patterns
        ]
    )


_OG_TAG_FWD = (
    r"(?is)<meta\b[^>]*\sproperty\s*=\s*([\"'])(og:[\w.:-]+)\1"
    r"[^>]*\scontent\s*=\s*([\"'])" + _qval(3) + r"\3[^>]*>"
)
_OG_TAG_REV = (
    r"(?is)<meta\b[^>]*\scontent\s*=\s*([\"'])" + _qval(1) + r"\1"
    r"[^>]*\sproperty\s*=\s*([\"'])(og:[\w.:-]+)\3[^>]*>"
)


def extract_og_meta(df: DataFrame) -> DataFrame:
    """OpenGraph properties of (url, html) pages in long format → (url,
    og_property, og_content), one row per ``<meta property="og:...">`` tag.

    og:* is MULTI-valued by design (several og:image entries per page),
    so unlike :func:`extract_page_meta` this keeps every occurrence —
    ``regexp_extract_all`` over whole meta elements, both attribute
    orders, quote-backreferenced values. The structured social-card
    metadata (title/image/type/url) is the highest-precision page
    summary most publishers ship after JSON-LD.
    """
    html = html_string(df, "html")

    def pairs(pattern, prop_g, val_g):
        return F.transform(
            F.regexp_extract_all(html, F.lit(pattern), 0),
            lambda t: F.struct(
                F.regexp_extract(t, pattern, prop_g).alias("p"),
                F.regexp_extract(t, pattern, val_g).alias("c"),
            ),
        )

    both = F.concat(
        pairs(_OG_TAG_FWD, 2, 4),
        F.filter(
            pairs(_OG_TAG_REV, 4, 2), lambda s: F.length(s["p"]) > 0
        ),
    )
    return (
        df.select(F.col("url").alias("url"), F.explode(both).alias("e"))
        .select(
            "url",
            F.col("e.p").alias("og_property"),
            F.col("e.c").alias("og_content"),
        )
        .where(F.length("og_property") > 0)
    )


def extract_page_meta(df: DataFrame) -> DataFrame:
    """(url, html) → (url, title, description, canonical, noindex,
    nofollow, lang)."""
    html = html_string(df, "html")
    title = F.nullif(
        F.trim(F.regexp_extract(html, r"(?is)<title[^>]*>(.*?)</title>", 1)),
        F.lit(""),
    )
    description = _first(html, _attr_pair("meta", "name", "description", "content"))
    canonical = _first(html, _attr_pair("link", "rel", "canonical", "href"))
    robots = F.lower(
        F.coalesce(
            _first(html, _attr_pair("meta", "name", "robots", "content")),
            F.lit(""),
        )
    )
    lang = F.coalesce(
        F.nullif(
            F.regexp_extract(
                html,
                r"(?is)<html\b[^>]*\slang\s*=\s*([\"'])" + _qval(1) + r"\1",
                2,
            ),
            F.lit(""),
        ),
        F.nullif(
            F.regexp_extract(
                html, rf"(?is)<html\b[^>]*\slang\s*=\s*{_UVAL}", 1
            ),
            F.lit(""),
        ),
    )
    # 'none' implies noindex + nofollow (robots-meta spec)
    is_none = robots.rlike(r"\bnone\b")
    return df.select(
        F.col("url").alias("url"),
        title.alias("title"),
        description.alias("description"),
        canonical.alias("canonical"),
        (robots.contains("noindex") | is_none).alias("noindex"),
        (robots.contains("nofollow") | is_none).alias("nofollow"),
        lang.alias("lang"),
    )


def extract_meta_refresh(df: DataFrame) -> DataFrame:
    """(url, html) → (url, refresh_delay_s, refresh_url) — ``<meta http-equiv=
    "refresh" content="N;url=target">`` soft redirects, the crawl
    signal that reclassifies a page as an alias of its target (and a
    classic cloaking/spam marker when the delay is 0). Both attribute
    orders and quote styles via the shared _attr_pair machinery;
    relative targets resolve against the page URL (RFC 3986, the
    links_resolve machinery). Pages without the tag keep NULLs —
    the op is a left-enrichment, never a filter.

    Pure column expressions end to end."""
    from .columns import html_string
    from .urls import resolve_url_col

    html = html_string(df, "html")
    content = _first(
        html, _attr_pair("meta", "http-equiv", "refresh", "content")
    )
    delay = F.nullif(
        F.regexp_extract(F.coalesce(content, F.lit("")), r"^\s*([0-9]+)", 1),
        F.lit(""),
    ).cast("int")
    raw_target = F.nullif(
        F.regexp_extract(
            F.coalesce(content, F.lit("")),
            r"(?i)url\s*=\s*[\"']?([^\"'\s;]+)",
            1,
        ),
        F.lit(""),
    )
    resolved = F.when(
        raw_target.isNotNull(),
        resolve_url_col(F.col("url"), raw_target),
    )
    return df.select(
        F.col("url").alias("url"),
        delay.alias("refresh_delay_s"),
        resolved.alias("refresh_url"),
    )
