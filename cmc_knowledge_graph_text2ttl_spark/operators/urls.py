"""URL canonicalization — the crawl-dedup primitive that runs BEFORE
content dedup at web scale (two spellings of one URL must collide).

Pure column expressions (whole-stage codegen, no UDF, DuckDB-mirrorable):

* scheme and host lowercased; default ports stripped (``:80`` http,
  ``:443`` https);
* fragment dropped;
* tracking params removed (``utm_*``, ``gclid``, ``fbclid``), remaining
  query params SORTED (order-insensitive dedup key);
* empty path → ``/``; single trailing slash stripped from non-root
  paths; path case preserved (paths are case-sensitive, hosts are not).

``registered_domain`` is the last two host labels — an approximation
(no public-suffix list dependency: ``co.uk``-style suffixes collapse);
good enough for per-site grouping, documented as approximate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid)(=|$)"


def canonical_url_col(url: Column) -> Column:
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    after = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    hostport = F.lower(F.regexp_extract(after, r"^([^/?#]*)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    rest = F.regexp_replace(after, r"^[^/?#]*", "")
    nofrag = F.regexp_replace(rest, r"(?s)#.*$", "")
    path = F.regexp_extract(nofrag, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"(.)/$", r"$1")
    )
    query = F.regexp_extract(nofrag, r"(?s)\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def host_col(url: Column) -> Column:
    after = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    hostport = F.lower(F.regexp_extract(after, r"^([^/?#]*)", 1))
    return F.regexp_replace(hostport, r":\d+$", "")


def canonicalize_urls(df: DataFrame) -> DataFrame:
    """Adds canonical_url, host and (approximate) registered_domain of
    the ``url`` column."""
    u = F.col("url")
    host = host_col(u)
    return df.withColumns(
        {
            "canonical_url": canonical_url_col(u),
            "host": host,
            "registered_domain": F.when(
                host.rlike(r"[^.]+\.[^.]+$"),
                F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1),
            ).otherwise(host),
        }
    )


def _remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 over a path column, no UDF: split on '/', fold
    the segments through an array accumulator (``F.aggregate`` — one
    stack push/pop per segment, all codegen), re-join. '..' never pops
    the root, and a trailing '.'/'..' keeps the directory slash."""
    segs = F.split(path, "/")
    empty = F.expr("CAST(array() AS ARRAY<STRING>)")
    stack = F.aggregate(
        segs,
        empty,
        lambda acc, s: F.when(s == ".", acc)
        .when(
            s == "..",
            F.when(
                F.size(acc) > 1, F.slice(acc, 1, F.size(acc) - 1)
            ).otherwise(acc),
        )
        .otherwise(F.concat(acc, F.array(s))),
    )
    last = F.element_at(segs, -1)
    stack = F.when(
        last.isin(".", ".."), F.concat(stack, F.array(F.lit("")))
    ).otherwise(stack)
    return F.array_join(stack, "/")


def resolve_url_col(base: Column, ref: Column) -> Column:
    """RFC 3986 §5 reference resolution as pure column expressions:
    ``resolve_url_col(F.lit("http://a/b/c/d;p?q"), F.lit("../g"))`` →
    ``http://a/g``. Strict parsing (a ref with its own scheme is
    returned as-is, §5.2.2 strict flag — dot segments inside absolute
    refs are preserved); the base is assumed to be an absolute URI with
    authority, which every crawl frontier URL is. Verified against the
    full §5.4 normal + abnormal example table in tests."""
    scheme_re = r"^([A-Za-z][A-Za-z0-9+.\-]*):"
    r_scheme = F.regexp_extract(ref, scheme_re, 1)
    r_has_auth = ref.startswith("//")
    r_auth = F.regexp_extract(ref, r"^//([^/?#]*)", 1)
    r_after = F.when(
        r_has_auth, F.regexp_replace(ref, r"^//[^/?#]*", "")
    ).otherwise(ref)
    r_nofrag = F.regexp_replace(r_after, r"(?s)#.*$", "")
    r_path = F.regexp_extract(r_nofrag, r"^([^?]*)", 1)
    r_has_query = r_nofrag.contains("?")
    r_query = F.regexp_extract(r_nofrag, r"(?s)\?(.*)$", 1)
    r_has_frag = ref.contains("#")
    r_frag = F.regexp_extract(ref, r"(?s)#(.*)$", 1)

    b_scheme = F.regexp_extract(base, scheme_re, 1)
    b_auth = F.regexp_extract(base, r"^[^:]*://([^/?#]*)", 1)
    b_rest = F.regexp_replace(base, r"^[^:]*://[^/?#]*", "")
    b_nofrag = F.regexp_replace(b_rest, r"(?s)#.*$", "")
    b_path = F.regexp_extract(b_nofrag, r"^([^?]*)", 1)
    b_has_query = b_nofrag.contains("?")
    b_query = F.regexp_extract(b_nofrag, r"(?s)\?(.*)$", 1)

    # §5.2.3 merge: base path up to and including its last '/', or
    # '/' + ref when the base has authority but an empty path
    b_dir = F.regexp_replace(b_path, r"[^/]*$", "")
    merged = F.when(b_path == "", F.concat(F.lit("/"), r_path)).otherwise(
        F.concat(b_dir, r_path)
    )

    t_path = (
        F.when(r_has_auth | r_path.startswith("/"), _remove_dot_segments(r_path))
        .when(r_path == "", b_path)
        .otherwise(_remove_dot_segments(merged))
    )
    t_auth = F.when(r_has_auth, r_auth).otherwise(b_auth)
    # empty ref path without its own query (or authority) inherits the
    # base query (§5.2.2: an authority-bearing ref takes ITS query)
    use_base_query = ~r_has_auth & (r_path == "") & ~r_has_query
    t_query = F.when(
        use_base_query & b_has_query, F.concat(F.lit("?"), b_query)
    ).when(r_has_query, F.concat(F.lit("?"), r_query)).otherwise(F.lit(""))
    resolved = F.concat(
        b_scheme,
        F.lit("://"),
        t_auth,
        t_path,
        t_query,
        F.when(r_has_frag, F.concat(F.lit("#"), r_frag)).otherwise(F.lit("")),
    )
    return F.when(r_scheme != "", ref).otherwise(resolved)


def filter_blocked_domains(df: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Drop rows whose ``url`` host matches a blocklist entry exactly OR as
    a dot-suffix (``ads.example.com`` is blocked by ``example.com``) —
    the standard crawl-curation blocklist semantics.

    Scale shape: the host explodes into at most 6 dot suffixes
    (bounded fan-out — registrable domains are shallow) and
    LEFT ANTI joins the blocklist on the suffix. The blocklist is a
    dimension table: Spark broadcasts it under AQE when it is small,
    and the join stays a plain key join (never a per-row UDF loop or a
    cartesian LIKE scan) when it is not.
    """
    host = host_col(F.col("url"))
    # suffixes: host itself + each parent domain, e.g. a.b.c ->
    # [a.b.c, b.c, c]; built with split + slice, no UDF
    labels = F.split(host, r"\.")
    n = F.least(F.size(labels), F.lit(6))
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(
            F.slice(labels, i, F.size(labels) - i + 1), "."
        ),
    )
    bl = blocklist.select(
        F.lower(F.trim(F.col(blocklist.columns[0]))).alias("_blocked")
    ).distinct()
    exploded = df.withColumn("_sfx", F.explode(suffixes))
    hit_ids = (
        exploded.join(bl, exploded["_sfx"] == bl["_blocked"], "left_semi")
        .select("url")
        .distinct()
    )
    return df.join(hit_ids, "url", "left_anti")


# FineWeb/RefinedWeb-style URL-level quality: substring badword list
# (theirs is thousands of entries from the UT1 blocklist; this default is
# a small stand-in — pass the real list at call time, it compiles into
# ONE alternation regex, still a pure column op).
DEFAULT_URL_BADWORDS = ("porn", "xxx", "casino", "viagra", "escort", "sexcam")


def url_quality(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    badwords: tuple = DEFAULT_URL_BADWORDS,
    max_len: int = 2048,
    max_params: int = 8,
    max_depth: int = 12,
) -> DataFrame:
    """(id, url, host, url_len, n_params, path_depth, host_digit_pct,
    is_ip_host, has_badword, keep, reasons) — URL-level quality verdict
    in the RefinedWeb / FineWeb style (Penedo et al. 2023/2024): crawl
    curation rejects documents on URL evidence alone, BEFORE fetching
    or extracting content, so this runs on the frontier table.

    Signals (all pure column expressions, no UDF, no join):

    * badword substring in the lowercased URL (``badwords`` compiles
      into one alternation regex — the real UT1-derived lists are a few
      thousand entries and still fit a single compiled pattern);
    * over-long URLs (spam calendars / session-id explosions);
    * excessive query parameters (faceted-search / tracking traps);
    * excessive path depth (calendar and pagination traps);
    * raw-IP hosts (no registrable domain — overwhelmingly spam);
    * digit share of the host as an integer percent (DGA-ish hosts),
      reported but NOT part of ``keep`` (a tuning signal).

    ``reasons`` is the sorted machine-readable tag array, same contract
    as :func:`~..filtering.corpus_filter`.
    """
    u = F.col(url_col)
    host = host_col(u)
    url_len = F.length(u)
    n_params = F.coalesce(
        F.size(
            F.filter(
                F.split(F.regexp_extract(u, r"(?s)\?(.*)$", 1), "&"),
                lambda x: x != "",
            )
        ),
        F.lit(0),
    )
    path = F.regexp_extract(
        F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*", ""),
        r"^([^?#]*)",
        1,
    )
    path_depth = F.size(F.filter(F.split(path, "/"), lambda x: x != ""))
    host_digits = F.length(F.regexp_replace(host, r"[^0-9]", ""))
    # integer floor division (never float-divide: DuckDB's float->int
    # cast rounds while Spark's truncates — DIV sidesteps the trap)
    host_digit_pct = F.when(
        F.length(host) > 0,
        (host_digits * 100 - (host_digits * 100) % F.length(host))
        / F.length(host),
    ).otherwise(F.lit(0)).cast("int")
    is_ip_host = host.rlike(r"^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$")
    import re as _re

    # real UT1-derived lists contain dots and other metachars — escape
    # each term or one '(' entry fails every task with a pattern error
    # an EMPTY list must disable the signal ('()' matches everything)
    if badwords:
        bad_re = "(" + "|".join(_re.escape(w) for w in badwords) + ")"
        has_badword = F.lower(u).rlike(bad_re)
    else:
        has_badword = F.lit(False)
    reasons = F.array_compact(
        F.array(
            F.when(has_badword, F.lit("badword")),
            F.when(url_len > max_len, F.lit("too_long")),
            F.when(n_params > max_params, F.lit("param_trap")),
            F.when(path_depth > max_depth, F.lit("deep_path")),
            F.when(is_ip_host, F.lit("ip_host")),
        )
    )
    return df.select(
        F.col(id_col).alias("id"),
        u.alias("url"),
        host.alias("host"),
        url_len.cast("int").alias("url_len"),
        n_params.cast("int").alias("n_params"),
        path_depth.cast("int").alias("path_depth"),
        host_digit_pct.alias("host_digit_pct"),
        is_ip_host.alias("is_ip_host"),
        has_badword.alias("has_badword"),
        (F.size(reasons) == 0).alias("keep"),
        F.sort_array(reasons).alias("reasons"),
    )


def host_stats(df: DataFrame, **quality_kwargs) -> DataFrame:
    """(host, n_docs, n_kept, n_badword, mean_url_len, max_path_depth)
    — per-host crawl-quality aggregates over :func:`url_quality` of
    (doc_id, url) rows.

    The host-reputation table curation pipelines join against: a host
    whose pages are mostly URL-rejected gets demoted wholesale (the
    FineWeb recipe drops entire domains past a badword share).

    ``mean_url_len`` is ``sum DIV n`` — integer floor division, the
    only partition-independent mean (CLAUDE.md rule). One map-side-
    combinable groupBy on host; no buffers, no windows — safe on a
    100 TB frontier where one host can own 10^8 URLs.
    """
    q = url_quality(df, **quality_kwargs)
    return (
        q.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(F.col("has_badword").cast("long")).alias("n_badword"),
            F.sum(F.col("url_len").cast("long")).alias("_len_sum"),
            F.max("path_depth").alias("max_path_depth"),
        )
        .select(
            "host",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.col("n_badword").cast("long").alias("n_badword"),
            # integer floor division: the only partition- and engine-
            # independent mean (no float division anywhere)
            F.expr("_len_sum DIV n_docs").alias("mean_url_len"),
            F.col("max_path_depth").cast("int").alias("max_path_depth"),
        )
    )
